"""Driver-contract query catalog (SURVEY.md §2 coverage).

Each entry pairs a Spark DataFrame implementation with an equivalent DuckDB
SQL oracle over the same parquet tables (/root/testdata/sf*/).  Column names
are aliased identically on both sides; numeric outputs are integers (or
values derived from integers) wherever floating-point summation order could
differ between engines.

The ``events`` table doubles as the stand-in CDC changelog (FIXTURES.md §4):
``derived_changelog`` maps it deterministically onto the engine's changelog
shape, with the SAME derivation written once as Spark expressions and once as
the ``CHANGELOG_CTE`` SQL string.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jurisprudencia_privada_etl_spark.tables import read_table

from jurisprudencia_privada_etl_spark.functions.hashing import canonical_hash, deterministic_uuid
from jurisprudencia_privada_etl_spark.functions.paths import date_from_path, first_match_map
from jurisprudencia_privada_etl_spark.functions.text import faceted_triple
from jurisprudencia_privada_etl_spark.functions.textstats import (
    STOPWORDS,
    doc_fingerprint_md5,
    lang_id_pandas,
    subword_count,
    token_count,
)
from jurisprudencia_privada_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from jurisprudencia_privada_etl_spark.operators.complementary import merge_complementary
from jurisprudencia_privada_etl_spark.operators.conflicts import conflict_report
from jurisprudencia_privada_etl_spark.operators.lww import lww_dedup
from jurisprudencia_privada_etl_spark.operators.multimodal import extract_features, synthetic_assets
from jurisprudencia_privada_etl_spark.operators.reconcile import missing_keys
from jurisprudencia_privada_etl_spark.operators.temporal import epoch_seconds
from jurisprudencia_privada_etl_spark.operators.similarity import (
    _hyperplanes,
    _probe_masks,
    anchor_centroids,
    dot,
    ivf_topk,
    l2_norm,
    lsh_topk,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _t_fan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read + size-gated fan-out (tables.fan_out_small_scan) for the
    expression-heavy MAP queries (hash chains, regex scrubbing, JSON
    serde, pandas UDFs): a sub-split input is one scan task, so the whole
    pipeline would otherwise run on one core.  No-op above the 32 MB gate
    — at production scale the scan already splits and no shuffle is
    added."""
    from jurisprudencia_privada_etl_spark.tables import fan_out_small_scan, table_bytes

    return fan_out_small_scan(
        spark, read_table(spark, sf_dir, name), table_bytes(sf_dir, name)
    )


# ---------------------------------------------------------------------------
# derived changelog: events → (epoch, ordinal, op, repo, path, commit, lang, content)
# ---------------------------------------------------------------------------

def derived_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.pmod(F.col("event_id"), F.lit(4)).alias("epoch"),
        F.col("event_id").alias("ordinal"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("event_type") == "purchase", F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.concat(F.lit("r"), F.pmod(F.col("user_id"), F.lit(13)).cast("string")).alias("repo"),
        F.concat(
            F.lit("src/f"), F.pmod(F.col("event_id"), F.lit(297)).cast("string"), F.lit(".py")
        ).alias("path"),
        F.col("event_id").cast("string").alias("commit"),
        F.col("event_type").alias("lang"),
        F.concat(
            F.col("props"), F.lit("#"), F.pmod(F.col("event_id"), F.lit(7)).cast("string")
        ).alias("content"),
    )


CHANGELOG_CTE = """
changelog AS (
    SELECT
        event_id % 4                                          AS epoch,
        event_id                                              AS ordinal,
        CASE WHEN event_type = 'error' THEN 'D'
             WHEN event_type = 'purchase' THEN 'U'
             ELSE 'I' END                                     AS op,
        'r' || CAST(user_id % 13 AS VARCHAR)                  AS repo,
        'src/f' || CAST(event_id % 297 AS VARCHAR) || '.py'   AS path,
        CAST(event_id AS VARCHAR)                             AS commit,
        event_type                                            AS lang,
        props || '#' || CAST(event_id % 7 AS VARCHAR)         AS content
    FROM events
)
"""


def _lww_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged final state of the derived changelog (LWW + tombstones)."""
    log = derived_changelog(spark, sf_dir)
    return lww_dedup(log, ["repo", "path"], "ordinal").where(F.col("op") != "D")


LWW_STATE_CTE = f"""
WITH {CHANGELOG_CTE},
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY ordinal DESC) AS rn
    FROM changelog
),
state AS (
    SELECT repo, path, ordinal, commit, lang, content
    FROM ranked WHERE rn = 1 AND op <> 'D'
)
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_cdc_lww_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (W1+T5): converged state with the sha256(content) invariant."""
    return _lww_state(spark, sf_dir).select(
        "repo", "path", "ordinal", "content",
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


SQL_CDC_LWW_REPLAY = LWW_STATE_CTE + """
SELECT repo, path, ordinal, content, sha256(content) AS content_sha FROM state
"""


def q_cdc_mor_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship through the REAL sink in merge-on-read mode: the derived
    changelog replays epoch-by-epoch into a lake table with
    ``write_mode="mor"`` (each epoch appends per-bucket delta files; reads
    resolve base+deltas with the per-key LWW window), and the resolved
    final state must equal the same pure-SQL LWW oracle as
    ``cdc_lww_replay`` — the strongest single check that the delta write,
    classification join and resolution window compose correctly.

    The temp table lives under /tmp for the caller's collection; the
    returned DataFrame lazily reads it.
    """
    import tempfile

    from jurisprudencia_privada_etl_spark.plans.replay import (
        ReplayConfig,
        replay_dataframe,
    )

    # Two epochs (base write + one delta generation) bound the query's job
    # count; deeper delta stacking is pinned by tests/test_mor.py.
    # (A fan_out_small_scan here was A/B-measured SLOWER: the replay runs
    # one action per epoch, so the repartition exchange is re-paid by every
    # epoch's merge and never reused across actions.)
    log = derived_changelog(spark, sf_dir).where(F.col("epoch") < 2)
    table = tempfile.mkdtemp(prefix="jurisprudencia_etl_mor_")
    # run_extraction=False: the document-extraction Arrow stage is benched by
    # cdc_lww_replay/the replay rows already — this query isolates the MoR
    # machinery (delta write, classification join, resolution window).
    # n_salts=0: MoR's max_by merge reshuffles on the bare key anyway, so the
    # pre-stage salt exchange buys nothing here either (BENCH/ab_salt_shuffle.md)
    sink = replay_dataframe(
        spark, log, table,
        ReplayConfig(write_mode="mor", n_buckets=16, n_salts=0, run_extraction=False),
    )
    return sink.load().select(
        "repo", "path", "ordinal", "content",
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


SQL_CDC_MOR_REPLAY = f"""
WITH {CHANGELOG_CTE},
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY ordinal DESC) AS rn
    FROM changelog WHERE epoch < 2
),
state AS (
    SELECT repo, path, ordinal, content FROM ranked WHERE rn = 1 AND op <> 'D'
)
SELECT repo, path, ordinal, content, sha256(content) AS content_sha FROM state
"""


def q_lww_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 on the raw events table: latest event per user by event_id."""
    e = _t(spark, sf_dir, "events")
    return lww_dedup(e, ["user_id"], "event_id").select(
        "user_id", "event_id", "event_type", "value"
    )


SQL_LWW_LATEST_EVENT = """
SELECT user_id, event_id, event_type, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM events
) WHERE rn = 1
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: top-3 events per event_type by (value desc, event_id)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        e.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("event_type", "event_id", "rank")
    )


SQL_TOPK_PER_GROUP = """
SELECT event_type, event_id, rank FROM (
    SELECT event_type, event_id,
           row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank
    FROM events
) WHERE rank <= 3
"""


def q_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact⋈small-dim with an explicit broadcast hint."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("sum_cents"),
        )
    )


SQL_BROADCAST_DIM_JOIN = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_theta_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: broadcast nested-loop containment join (instr > 0), the analog of
    the reference's filename→process-key fuzzy match (sharepoint.ts:585-593)."""
    e = _t(spark, sf_dir, "events")
    n = _t(spark, sf_dir, "nation")
    return (
        e.join(F.broadcast(n), F.instr(e["props"], n["n_nationkey"].cast("string")) > 0)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_matches"))
    )


SQL_THETA_CONTAINMENT_JOIN = """
SELECT n_name, COUNT(*) AS n_matches
FROM events JOIN nation ON instr(props, CAST(n_nationkey AS VARCHAR)) > 0
GROUP BY n_name
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (left_anti): customers with no orders, counted per segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_ANTI_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (left_semi): customers with at least one order, per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_SEMI_JOIN = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


def q_arrays_overlap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 residual shape: set-overlap predicate on tokenized names."""
    p = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return (
        p.where(F.arrays_overlap(words, F.array(F.lit("blue"), F.lit("red"))))
        .groupBy("p_type")
        .agg(F.count("*").alias("n_parts"))
    )


SQL_ARRAYS_OVERLAP_FILTER = """
SELECT p_type, COUNT(*) AS n_parts
FROM part
WHERE list_has_any(string_split(p_name, ' '), ['blue', 'red'])
GROUP BY p_type
"""


def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2-O4: union/intersect/except/remove as set-size scalars."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    a = F.slice(toks, 1, 6)
    b = F.slice(toks, 4, 6)
    return d.select(
        "doc_id",
        F.size(F.array_distinct(F.concat(a, b))).alias("n_union"),
        F.size(F.array_intersect(a, b)).alias("n_inter"),
        F.size(F.array_except(a, b)).alias("n_except"),
        F.size(F.array_remove(toks, "table")).alias("n_removed"),
    )


SQL_ARRAY_OPS = """
WITH t AS (
    SELECT doc_id,
           list_slice(string_split(text, ' '), 1, 6) AS a,
           list_slice(string_split(text, ' '), 4, 9) AS b,
           string_split(text, ' ') AS toks
    FROM documents
)
SELECT doc_id,
       len(list_distinct(list_concat(a, b)))                                   AS n_union,
       len(list_distinct(list_filter(a, x -> list_contains(b, x))))            AS n_inter,
       len(list_distinct(list_filter(a, x -> NOT list_contains(b, x))))        AS n_except,
       len(list_filter(toks, x -> x <> 'table'))                               AS n_removed
FROM t
"""


def q_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: dd/MM/yyyy edge formatting (aux.ts:53) + date parts."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "dd/MM/yyyy").alias("data_pt"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    )


SQL_DATE_FORMAT = """
SELECT o_orderkey,
       strftime(o_orderdate, '%d/%m/%Y') AS data_pt,
       CAST(EXTRACT(year FROM o_orderdate) AS INT)  AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo
FROM orders
"""


def q_sha2_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: the per-row content invariant."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.sha2(F.col("text"), 256).alias("content_sha"))


SQL_SHA2_INVARIANT = "SELECT doc_id, sha256(text) AS content_sha FROM documents"


def q_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8/X19: wrap lines in HTML then strip-tags round trip."""
    d = _t(spark, sf_dir, "documents")
    html = F.concat(F.lit("<p><font>"), F.col("text"), F.lit("</font><br>"))
    stripped = F.regexp_replace(html, "<[^>]*>", "")
    return d.select(
        "doc_id",
        F.length(html).alias("html_len"),
        F.length(stripped).alias("text_len"),
        (F.trim(stripped) == "").alias("is_empty"),
    )


SQL_STRIP_HTML = """
SELECT doc_id,
       CAST(length('<p><font>' || text || '</font><br>') AS INT) AS html_len,
       CAST(length(regexp_replace('<p><font>' || text || '</font><br>', '<[^>]*>', '', 'g')) AS INT) AS text_len,
       trim(regexp_replace('<p><font>' || text || '</font><br>', '<[^>]*>', '', 'g')) = '' AS is_empty
FROM documents
"""


def q_agg_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-kind run counters (created/updated/deleted analog)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


SQL_AGG_COUNTERS = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       COUNT(DISTINCT user_id) AS n_users,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM events GROUP BY event_type
"""


def q_lineage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/T10: per-epoch applied-event + byte metrics of the derived changelog."""
    log = derived_changelog(spark, sf_dir)
    return log.groupBy("epoch").agg(
        F.count("*").alias("events"),
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("inserts"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("updates"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deletes"),
        F.sum(F.length("content")).alias("bytes"),
    )


SQL_LINEAGE_COUNTS = f"""
WITH {CHANGELOG_CTE}
SELECT epoch,
       COUNT(*) AS events,
       CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS inserts,
       CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS updates,
       CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS deletes,
       CAST(SUM(length(content)) AS BIGINT) AS bytes
FROM changelog GROUP BY epoch
"""


def q_distinct_folders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: distinct touched folders of the delta (sharepoint.ts:414,433-435)."""
    log = derived_changelog(spark, sf_dir)
    folder = F.substring_index("path", "/", 1)
    return log.select(folder.alias("folder")).distinct()


SQL_DISTINCT_FOLDERS = f"""
WITH {CHANGELOG_CTE}
SELECT DISTINCT string_split(path, '/')[1] AS folder FROM changelog
"""


def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 analog: grouped, deterministically-ordered collected keys."""
    e = _t(spark, sf_dir, "events")
    buck = F.pmod(F.col("user_id"), F.lit(7)).cast("string")
    return (
        e.select("event_type", buck.alias("b"))
        .distinct()
        .groupBy("event_type")
        .agg(F.array_join(F.array_sort(F.collect_list("b")), ",").alias("buckets"))
    )


SQL_GROUP_CONCAT = """
SELECT event_type, string_agg(b, ',' ORDER BY b) AS buckets
FROM (SELECT DISTINCT event_type, CAST(user_id % 7 AS VARCHAR) AS b FROM events)
GROUP BY event_type
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a doubled corpus: one survivor per content hash."""
    d = _t(spark, sf_dir, "documents")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    out = exact_dedup(doubled, "text", "doc_id")
    return out.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_id")
    )


SQL_EXACT_DEDUP = """
WITH doubled AS (
    SELECT * FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars FROM documents
),
keep AS (
    SELECT MIN(doc_id) AS doc_id FROM doubled GROUP BY sha256(text)
)
SELECT source, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
FROM doubled WHERE doc_id IN (SELECT doc_id FROM keep)
GROUP BY source
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-overlap pair stats on a bounded corpus slice (ints only)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 80)
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.0)
    return pairs.select(
        "id_a", "id_b", (F.col("jaccard") > 0).alias("overlaps")
    ).where(F.col("overlaps"))


SQL_NGRAM_JACCARD = """
WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
           FROM documents WHERE doc_id < 80),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1) + CASE WHEN len(toks) >= 3 THEN 0 ELSE 1 END),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS s
    FROM d
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, TRUE AS overlaps
FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 5 vectors.

    The cosine is computed as an in-order double fold on both sides so the
    ranking is bit-identical; only ranks are emitted (floats stay internal).
    """
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
    )
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dq = F.transform(F.col("_qvec"), lambda x: x.cast("double"))
    scored = emb.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        (dot(dvec, dq) / (l2_norm(dvec) * l2_norm(dq))).alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "vec_id", "rank")
    )


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
scored AS (
    SELECT q.query_id, e.vec_id,
           list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))) AS cos
    FROM embeddings e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
    FROM scored
) WHERE rank <= 5
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + per-language stopword hit counts (all ints)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")

    def hits(lang: str):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))

    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        subword_count("text").alias("n_subwords"),
        hits("en").alias("sw_en"),
        hits("pt").alias("sw_pt"),
    )


_SW_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
_SW_PT = ", ".join(f"'{w}'" for w in STOPWORDS["pt"])

SQL_TEXT_QUALITY = f"""
WITH t AS (SELECT doc_id, text,
                  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
           FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subwords,
       len(list_filter(toks, x -> x IN ({_SW_EN}))) AS sw_en,
       len(list_filter(toks, x -> x IN ({_SW_PT}))) AS sw_pt
FROM t
"""


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + bounded rolling sum per user (integer cents)."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("event_id")
    wr = w.rowsBetween(-2, 0)
    return e.select(
        "user_id",
        "event_id",
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.sum(cents).over(wr).alias("roll_cents"),
    )


SQL_WINDOW_ANALYTICS = """
SELECT user_id, event_id,
       lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS roll_cents
FROM events
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (free via Catalyst, SURVEY.md §2.4)."""
    e = _t(spark, sf_dir, "events")
    return e.rollup("event_type").agg(F.count("*").alias("n"))


SQL_ROLLUP_COUNTS = "SELECT event_type, COUNT(*) AS n FROM events GROUP BY ROLLUP(event_type)"


def q_date_from_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 round trip: build a dated path, extract the date back."""
    o = _t(spark, sf_dir, "orders")
    path = F.concat(
        F.lit("docs/"), F.date_format("o_orderdate", "dd-MM-yyyy"), F.lit("/f.pdf")
    )
    return o.select(
        "o_orderkey",
        path.alias("path"),
        date_from_path(path, default_year=2026).alias("extracted"),
    )


SQL_DATE_FROM_PATH = """
SELECT o_orderkey,
       'docs/' || strftime(o_orderdate, '%d-%m-%Y') || '/f.pdf' AS path,
       CAST(o_orderdate AS DATE) AS extracted
FROM orders
"""


AREA_MAP = [("f1", "um"), ("f2", "dois"), ("f3", "tres")]


def q_first_match_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: ordered first-contains-match dictionary (sharepoint.ts:485-497)."""
    log = derived_changelog(spark, sf_dir)
    return (
        log.select(first_match_map("path", AREA_MAP, default="outros").alias("area"))
        .groupBy("area")
        .agg(F.count("*").alias("n"))
    )


SQL_FIRST_MATCH_MAP = f"""
WITH {CHANGELOG_CTE}
SELECT CASE WHEN instr(lower(path), 'f1') > 0 THEN 'um'
            WHEN instr(lower(path), 'f2') > 0 THEN 'dois'
            WHEN instr(lower(path), 'f3') > 0 THEN 'tres'
            ELSE 'outros' END AS area,
       COUNT(*) AS n
FROM changelog GROUP BY 1
"""


def q_complementary_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 shape: equi-join on (user, day) + residual predicate — the
    complementary-document match (sharepoint.ts:61-100)."""
    e = _t(spark, sf_dir, "events")
    a = e.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("u"), F.to_date("ts").alias("d"), F.col("event_id").alias("id_a")
    )
    b = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.to_date("ts").alias("d"), F.col("event_id").alias("id_b")
    )
    return (
        a.join(b, ["u", "d"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("u")
        .agg(F.count("*").alias("n_pairs"))
    )


SQL_COMPLEMENTARY_PAIRS = """
SELECT a.user_id AS u, COUNT(*) AS n_pairs
FROM (SELECT user_id, CAST(ts AS DATE) d, event_id FROM events WHERE event_type = 'signup') a
JOIN (SELECT user_id, CAST(ts AS DATE) d, event_id FROM events WHERE event_type = 'click') b
  ON a.user_id = b.user_id AND a.d = b.d AND a.event_id < b.event_id
GROUP BY a.user_id
"""


def q_reconcile_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/J4: keys the changelog mentions that are absent from the converged
    state (i.e. last op was a tombstone) — the repair scan.

    Both missing_keys inputs derive from ONE narrow groupBy of the log
    (max ordinal + max tombstone ordinal per key — two long aggregates,
    map-side partially aggregated) instead of a full-payload LWW window
    plus a separate distinct over the whole log: the winner is live iff
    the newest row is not the newest tombstone, so the anti-join then
    runs over per-key frames only (guide §2.3 aggregate-before-shuffle)."""
    log = derived_changelog(spark, sf_dir)
    g = log.groupBy("repo", "path").agg(
        F.max("ordinal").alias("_mo"),
        F.max(F.when(F.col("op") == "D", F.col("ordinal"))).alias("_md"),
    )
    live = g.where(~F.col("_md").eqNullSafe(F.col("_mo"))).select("repo", "path")
    return missing_keys(g, live)


SQL_RECONCILE_MISSING = LWW_STATE_CTE + """
SELECT DISTINCT c.repo, c.path
FROM changelog c
WHERE NOT EXISTS (SELECT 1 FROM state s WHERE s.repo = c.repo AND s.path = c.path)
"""


def q_sidecar_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2: broadcast folder equi-join + dash→slash containment match with
    fallback defaults (sharepoint.ts:585-593)."""
    log = derived_changelog(spark, sf_dir)
    docs = log.select("path").distinct()
    n = _t(spark, sf_dir, "nation")
    dim = n.select(
        F.lit("src").alias("folder"),
        F.col("n_nationkey").cast("string").alias("process_key"),
        F.col("n_name").alias("judge"),
    )
    d = docs.withColumn("_folder", F.substring_index("path", "/", 1)).withColumn(
        "_fname_key", F.translate(F.substring_index("path", "/", -1), "-", "/")
    )
    joined = d.join(
        F.broadcast(dim),
        (d["_folder"] == dim["folder"]) & (F.instr(d["_fname_key"], dim["process_key"]) > 0),
        "left",
    )
    return (
        joined.select(F.coalesce(F.col("judge"), F.lit("Desconhecido")).alias("judge"))
        .groupBy("judge")
        .agg(F.count("*").alias("n"))
    )


SQL_SIDECAR_FUZZY_JOIN = f"""
WITH {CHANGELOG_CTE},
docs AS (SELECT DISTINCT path FROM changelog),
dim AS (SELECT 'src' AS folder, CAST(n_nationkey AS VARCHAR) AS process_key, n_name AS judge
        FROM nation)
SELECT COALESCE(judge, 'Desconhecido') AS judge, COUNT(*) AS n
FROM docs LEFT JOIN dim
  ON string_split(docs.path, '/')[1] = dim.folder
 AND instr(replace(string_split(docs.path, '/')[-1], '-', '/'), dim.process_key) > 0
GROUP BY 1
"""


def q_complementary_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: equi-key match + arrays_overlap residual after marker removal
    (checkAndMergeComplementary, sharepoint.ts:61-100)."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.floor(F.col("doc_id") / 20).alias("grp"),
        F.slice(F.split(F.col("text"), " "), 1, 12).alias("meio"),
        (F.pmod(F.col("doc_id"), F.lit(2)) == 0).alias("is_summary"),
    )
    s = base.where("is_summary").select(
        F.col("doc_id").alias("id_s"),
        F.col("grp").alias("grp_s"), F.col("meio").alias("meio_s"),
    )
    t = base.where(~F.col("is_summary")).select(
        F.col("doc_id").alias("id_t"),
        F.col("grp").alias("grp_t"), F.col("meio").alias("meio_t"),
    )
    pairs = s.join(
        t, s["grp_s"] == t["grp_t"]
    ).where(
        F.arrays_overlap(F.array_remove("meio_s", "the"), F.array_remove("meio_t", "the"))
    )
    return pairs.select("id_s", "id_t")


SQL_COMPLEMENTARY_ARRAYS = """
WITH base AS (
    SELECT doc_id, doc_id // 20 AS grp,
           list_slice(string_split(text, ' '), 1, 12) AS meio,
           doc_id % 2 = 0 AS is_summary
    FROM documents
)
SELECT s.doc_id AS id_s, t.doc_id AS id_t
FROM base s JOIN base t
  ON s.is_summary AND NOT t.is_summary
 AND s.grp = t.grp
WHERE list_has_any(list_filter(s.meio, x -> x <> 'the'),
                   list_filter(t.meio, x -> x <> 'the'))
"""


def q_canonical_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: canonical field-subset hash, nulls folded to '' with a NUL
    separator (aux.ts:101-111).  nullif() manufactures nulls so the
    null-canonicalization path is actually exercised."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        canonical_hash(
            F.nullif(F.col("lang"), F.lit("en")),
            F.col("source"),
            F.substring(F.col("text"), 1, 40),
            F.col("n_chars").cast("string"),
        ).alias("canon_hash"),
    )


SQL_CANONICAL_HASH = """
SELECT doc_id,
       sha256(concat_ws(chr(0),
           coalesce(nullif(lang, 'en'), ''),
           coalesce(source, ''),
           coalesce(substr(text, 1, 40), ''),
           coalesce(CAST(n_chars AS VARCHAR), ''))) AS canon_hash
FROM documents
"""


def q_deterministic_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: stable UUID-shaped id from the canonical hash (aux.ts:113,
    juris.ts:9-13) — the idempotent upsert anchor."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        deterministic_uuid(F.sha2(F.col("text"), 256)).alias("doc_uuid"),
    )


SQL_DETERMINISTIC_UUID = """
WITH h AS (SELECT doc_id, sha256(text) AS hh FROM documents)
SELECT doc_id,
       substr(hh, 1, 8) || '-' || substr(hh, 9, 4) || '-' || substr(hh, 13, 4)
       || '-' || substr(hh, 17, 4) || '-' || substr(hh, 21, 12) AS doc_uuid
FROM h
"""


def q_faceted_triple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: {Index, Original, Show} parallel-array facet (aux.ts:70, 86-99),
    JSON-encoded so the cross-engine value compare is a plain string."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.to_json(faceted_triple("lang", "source")).alias("facet_json"),
    )


SQL_FACETED_TRIPLE = """
SELECT doc_id,
       to_json(struct_pack(
           "Index" := [lang, source],
           "Original" := [lang, source],
           "Show" := [lang, source])) AS facet_json
FROM documents
"""


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: explicit from_json with a declared schema + to_json re-serialize
    (the reference's JSON boundaries: sharepoint.ts:564-569, 712-716;
    pdf_parser.py:54)."""
    e = _t_fan(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return e.select(
        "event_id",
        k.alias("k"),
        F.to_json(F.struct(k.alias("k"), F.col("event_type").alias("kind"))).alias("j"),
    )


SQL_JSON_ROUNDTRIP = """
SELECT event_id,
       CAST(json_extract(props, 'k') AS INT) AS k,
       to_json(struct_pack(k := CAST(json_extract(props, 'k') AS INT),
                           kind := event_type)) AS j
FROM events
"""


def q_complementary_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+O2-O4 output shape: the full match→merge→passthrough pass
    (checkAndMergeComplementary + mergeIntoDocument, sharepoint.ts:52-146).

    Input arrays are constructed internally-distinct (an index suffix on the
    content lines) so DuckDB's list_filter/list_contains can emulate Spark's
    dedup-on-first-occurrence array_union/array_except exactly.
    """
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_lines = F.greatest(F.least(F.size(toks), F.lit(5)), F.lit(1))
    lines = F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.concat(
            F.coalesce(F.try_element_at(toks, i), F.lit("")), F.lit(":"), i.cast("string")
        ),
    )
    pair_key = F.floor(F.col("doc_id") / 2)
    mk = F.concat(F.lit("m"), F.pmod(pair_key, F.lit(3)).cast("string"))
    is_summary = F.pmod(F.col("doc_id"), F.lit(2)) == 0
    # ~1 in 5 text docs get a non-overlapping meio → exercises the
    # unmatched-passthrough branch of merge_complementary.
    t_mean0 = F.when(F.pmod(F.col("doc_id"), F.lit(10)) == 1, F.lit("zz")).otherwise(mk)
    meio = F.when(is_summary, F.array(F.lit("Sumário"), mk)).otherwise(
        F.array(t_mean0, F.concat(F.lit("x"), F.pmod(F.col("doc_id"), F.lit(4)).cast("string")))
    )
    docs = d.select(
        F.concat(F.lit("d"), pair_key.cast("string")).alias("data"),
        F.concat(F.lit("p"), F.pmod(pair_key, F.lit(5)).cast("string")).alias("num_proc"),
        lines.alias("content_lines"),
        meio.alias("meio"),
        is_summary.alias("is_summary"),
    )
    out = merge_complementary(docs)
    return out.select(
        "data",
        "num_proc",
        F.array_join("content_lines", "|").alias("lines_j"),
        F.array_join("meio", ";").alias("meio_j"),
        "merged_hash",
    )


SQL_COMPLEMENTARY_MERGE = """
WITH docs AS (
    SELECT 'd' || CAST(doc_id // 2 AS VARCHAR)              AS data,
           'p' || CAST((doc_id // 2) % 5 AS VARCHAR)        AS num_proc,
           list_transform(
               range(1, greatest(least(len(string_split(text, ' ')), 5), 1) + 1),
               i -> coalesce(string_split(text, ' ')[i], '') || ':' || CAST(i AS VARCHAR)
           )                                                AS content_lines,
           CASE WHEN doc_id % 2 = 0
                THEN ['Sumário', 'm' || CAST((doc_id // 2) % 3 AS VARCHAR)]
                ELSE [CASE WHEN doc_id % 10 = 1 THEN 'zz'
                           ELSE 'm' || CAST((doc_id // 2) % 3 AS VARCHAR) END,
                      'x' || CAST(doc_id % 4 AS VARCHAR)]
           END                                              AS meio,
           doc_id % 2 = 0                                   AS is_summary
    FROM documents
),
pairs AS (
    SELECT s.data, s.num_proc,
           s.content_lines AS s_lines, t.content_lines AS t_lines,
           s.meio AS s_meio, t.meio AS t_meio
    FROM docs s JOIN docs t
      ON s.is_summary AND NOT t.is_summary
     AND s.data = t.data AND s.num_proc = t.num_proc
    WHERE list_has_any(list_filter(s.meio, x -> x <> 'Sumário'),
                       list_filter(t.meio, x -> x <> 'Sumário'))
),
merged AS (
    SELECT data, num_proc,
           list_concat(s_lines, list_filter(t_lines, x -> NOT list_contains(s_lines, x))) AS content_lines,
           list_filter(list_concat(s_meio, list_filter(t_meio, x -> NOT list_contains(s_meio, x))),
                       x -> x <> 'Sumário') AS meio
    FROM pairs
),
unmatched AS (
    SELECT d.data, d.num_proc, d.content_lines,
           list_filter(d.meio, x -> x <> 'Sumário') AS meio
    FROM docs d
    WHERE NOT EXISTS (SELECT 1 FROM merged m WHERE m.data = d.data AND m.num_proc = d.num_proc)
),
unioned AS (
    SELECT * FROM merged UNION ALL SELECT * FROM unmatched
)
SELECT data, num_proc,
       array_to_string(content_lines, '|') AS lines_j,
       array_to_string(meio, ';')          AS meio_j,
       sha256(concat_ws(chr(0), data, num_proc,
                        array_to_string(content_lines, chr(10)),
                        array_to_string(meio, ';'))) AS merged_hash
FROM unioned
"""


def q_conflict_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: per-field Current/New conflict rows (report.ts:43-110) — epoch 3's
    winning updates diffed against the live state converged from epochs 0-2."""
    log = derived_changelog(spark, sf_dir)
    hist = log.where(F.col("epoch") < 3)
    target = lww_dedup(hist, ["repo", "path"], "ordinal").where(F.col("op") != "D")
    upd = lww_dedup(log.where(F.col("epoch") == 3), ["repo", "path"], "ordinal")
    return conflict_report(target, upd, ["lang", "content", "commit"])


SQL_CONFLICT_REPORT = f"""
WITH {CHANGELOG_CTE},
t AS (
    SELECT repo, path, ordinal, commit, lang, content FROM (
        SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY ordinal DESC) rn
        FROM changelog WHERE epoch < 3
    ) WHERE rn = 1 AND op <> 'D'
),
u AS (
    SELECT repo, path, ordinal, commit, lang, content FROM (
        SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY ordinal DESC) rn
        FROM changelog WHERE epoch = 3
    ) WHERE rn = 1 AND op <> 'D'
),
j AS (
    SELECT u.repo, u.path, t.ordinal AS target_ordinal, u.ordinal AS update_ordinal,
           t.lang AS t_lang, u.lang AS u_lang,
           t.content AS t_content, u.content AS u_content,
           t.commit AS t_commit, u.commit AS u_commit
    FROM u JOIN t ON u.repo = t.repo AND u.path = t.path
    WHERE u.ordinal > t.ordinal
)
SELECT repo, path, 'lang' AS field, t_lang AS current, u_lang AS new,
       target_ordinal, update_ordinal
FROM j WHERE t_lang IS DISTINCT FROM u_lang
UNION ALL
SELECT repo, path, 'content', t_content, u_content, target_ordinal, update_ordinal
FROM j WHERE t_content IS DISTINCT FROM u_content
UNION ALL
SELECT repo, path, 'commit', t_commit, u_commit, target_ordinal, update_ordinal
FROM j WHERE t_commit IS DISTINCT FROM u_commit
"""


# ---------------------------------------------------------------------------
# dedup / ANN / text-analysis queries (oracle-paired since round 3)
#
# The round-2 "no_oracle" gap is closed by two techniques:
#  * group-count restructuring — at threshold 1.0 (minhash) / hamming 0
#    (simhash) / cosine 0.99 over near-random vectors (embedding dedup) the
#    survivor count has an engine-independent closed form DuckDB can compute
#    (distinct shingle-set / token-multiset / row count);
#  * full plan replication — the LSH hyperplanes and IVF anchors are
#    plan-time float literals and every float reduction on both sides is a
#    strictly IN-ORDER double fold (Spark F.aggregate ≡ DuckDB list_reduce),
#    so the oracle reproduces bucketing, probing, scoring, and ranking
#    bit-for-bit — the APPROXIMATE result itself is verified, not an
#    exact-search stand-in.
# ---------------------------------------------------------------------------

# Java-\s whitespace class (documents are ASCII — verified at all SFs — so
# this equals Python str.split() and RE2 \s on this data; the explicit class
# keeps the SQL honest anyway).
_WS = "[ \t\n\x0b\f\r]+"


def q_minhash_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH dedup at threshold 1.0 over a doubled corpus.

    Survivors = one per distinct 3-gram shingle SET: identical sets ⟹
    identical minhash signature ⟹ same band keys ⟹ candidate pair, and the
    exact-Jaccard verify keeps exactly the J=1.0 pairs — so the count equals
    DuckDB's COUNT(DISTINCT sorted shingle set), independent of the hash
    family.  (Sub-1.0 thresholds stay covered by pytest, where LSH recall is
    allowed to be < 1.)"""
    d = _t(spark, sf_dir, "documents")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    # est_margin=0.0 is LOSSLESS at threshold 1.0 (see minhash_dedup) and
    # prunes band-collision candidates before the exact verify; the verify
    # itself runs Arrow-vectorized over candidate texts only.  bands=2
    # (r=16): at threshold 1.0 ANY banding is lossless (identical shingle
    # sets ⟹ identical signatures ⟹ every band collides), so the widest
    # bands win — 2 exploded rows/doc instead of 16 and near-zero false
    # collisions (interleaved A/B at sf0.1: 1.9s vs 2.8s at bands=16,
    # identical count).  Sub-1.0 thresholds need narrower bands for recall
    # and stay covered by pytest.
    out = minhash_dedup(
        doubled, "text", "doc_id", threshold=1.0, num_hashes=32, bands=2,
        est_margin=0.0, verify_impl="pandas",
    )
    return out.agg(F.count("*").alias("n_docs"))


SQL_MINHASH_DEDUP_COUNT = f"""
WITH d AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '{_WS}'), x -> x <> '') AS toks
    FROM documents
),
sh AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN list_sort(list_distinct(list_transform(
                         range(1, len(toks) - 1),
                         i -> array_to_string(list_slice(toks, i, i + 2), ' '))))
                ELSE [array_to_string(toks, ' ')]
           END AS s
    FROM d
)
-- doubling copies every shingle set, so distinct-set count is unchanged
SELECT CAST(COUNT(DISTINCT array_to_string(s, chr(30))) AS BIGINT) AS n_docs FROM sh
"""


def q_simhash_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup at hamming distance 0 over a doubled corpus slice.

    Equal token multisets ⟹ equal simhash; the converse holds on this slice
    (zero cross-multiset 64-bit collisions among doc_id < 100 at sf 0.001 /
    0.01 / 0.1 — verified offline; the full corpus DOES collide, which is
    why the slice is pinned), so survivors = distinct token multisets.
    Hamming ≤ 3 semantics stay covered by pytest."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    out = simhash_dedup(doubled, "text", "doc_id", max_hamming=0)
    return out.agg(F.count("*").alias("n_docs"))


SQL_SIMHASH_DEDUP_COUNT = f"""
WITH d AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '{_WS}'), x -> x <> '') AS toks
    FROM documents WHERE doc_id < 100
)
SELECT CAST(COUNT(DISTINCT array_to_string(list_sort(toks), chr(30))) AS BIGINT) AS n_docs
FROM d
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID counts.  The decision rule (argmax stopword-hit ratio,
    ties to the larger language code, 'und' on zero hits) compares ratios
    with a SHARED denominator per document, so the oracle can rank by the
    integer hit counts — fully engine-independent."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(lang_id_pandas("text").alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )


def _lang_id_oracle_sql() -> str:
    vals = ", ".join(
        "('{}', [{}])".format(lg, ", ".join(f"'{w}'" for w in STOPWORDS[lg]))
        for lg in STOPWORDS
    )
    return f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '{_WS}'), x -> x <> '') AS toks
    FROM documents
),
s AS (
    SELECT doc_id, l.lang,
           len(list_filter(toks, x -> list_contains(l.sw, x))) AS hits
    FROM t CROSS JOIN (VALUES {vals}) l(lang, sw)
),
b AS (
    SELECT doc_id, lang, hits,
           row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
    FROM s
)
SELECT lang, COUNT(*) AS n
FROM (SELECT CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang FROM b WHERE rn = 1)
GROUP BY lang
"""


SQL_LANG_ID = _lang_id_oracle_sql()


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive content fingerprint: chained md5 over tokens — the
    same sequential fold exists verbatim in DuckDB (list_reduce), making the
    fingerprint itself cross-engine reproducible.  The xxhash64 polynomial
    variant (doc_fingerprint) remains the fast engine-internal path used by
    the extraction stage."""
    d = _t_fan(spark, sf_dir, "documents")
    return d.select("doc_id", doc_fingerprint_md5("text").alias("fingerprint"))


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(
           list_prepend('', list_filter(string_split_regex(text, '{_WS}'), x -> x <> '')),
           (acc, x) -> md5(acc || x)) AS fingerprint
FROM documents
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (the reference's anonymize stage, operators/redact.py):
    deterministic PII is stitched onto each document from its doc_id — email,
    intl phone, NIF, case number — then the ordered regexp_replace chain
    scrubs it and the audit counts are emitted.  All JVM expressions; the
    oracle replays the identical RE2-compatible chain.  Rule-order semantics
    are exercised for real: NIFs lpad-generated with a leading 9 get claimed
    by the PHONE rule first, identically on both engines."""
    from jurisprudencia_privada_etl_spark.operators.redact import redact, redaction_counts

    d = _t_fan(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pii = F.concat(
        F.col("text"),
        F.lit(" Contacto: user"), did.cast("string"),
        F.lit("@tribunal.example.pt tel +3519"),
        F.lpad(F.pmod(did * 7919, F.lit(100000000)).cast("string"), 8, "0"),
        F.lit(" NIF "),
        F.lpad(F.pmod(did * 104729 + 11, F.lit(1000000000)).cast("string"), 9, "0"),
        F.lit(" Proc "), (F.pmod(did, F.lit(9000)) + 1000).cast("string"),
        F.lit("/20.7T8LSB fim."),
    )
    c = redaction_counts(pii)
    return d.select(
        "doc_id",
        redact(pii).alias("redacted"),
        c["n_email"].cast("long").alias("n_email"),
        c["n_iban"].cast("long").alias("n_iban"),
        c["n_phone"].cast("long").alias("n_phone"),
        c["n_id"].cast("long").alias("n_id"),
        c["n_proc"].cast("long").alias("n_proc"),
    )


def _redact_oracle_sql() -> str:
    """Render the oracle from the SAME PII_RULES literals the Spark chain
    uses: progressive per-step CTE columns so counts see exactly the text
    their replace step saw."""
    from jurisprudencia_privada_etl_spark.operators.redact import PII_RULES

    ctes = [
        """p AS (
  SELECT doc_id,
         text || ' Contacto: user' || CAST(doc_id AS VARCHAR)
              || '@tribunal.example.pt tel +3519'
              || lpad(CAST((doc_id * 7919) % 100000000 AS VARCHAR), 8, '0')
              || ' NIF '
              || lpad(CAST((doc_id * 104729 + 11) % 1000000000 AS VARCHAR), 9, '0')
              || ' Proc ' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
              || '/20.7T8LSB fim.' AS t0
  FROM documents)"""
    ]
    counts: dict[str, list[str]] = {}
    carried = ""  # accumulated count columns to carry through each CTE
    for i, (cat, pat) in enumerate(PII_RULES):
        assert "'" not in pat
        ctes.append(
            f"r{i} AS (SELECT doc_id, "
            f"regexp_replace(t{i}, '{pat}', '<{cat}>', 'g') AS t{i + 1}, "
            f"len(regexp_extract_all(t{i}, '{pat}')) AS n{i}{carried} "
            f"FROM {'p' if i == 0 else f'r{i - 1}'})"
        )
        counts.setdefault(cat.lower(), []).append(f"n{i}")
        carried += f", n{i}"
    count_cols = ", ".join(
        f"{' + '.join(ns)} AS n_{cat}" for cat, ns in counts.items()
    )
    last = len(PII_RULES) - 1
    return (
        f"WITH {', '.join(ctes)}\n"
        f"SELECT doc_id, t{last + 1} AS redacted, {count_cols} FROM r{last}"
    )


SQL_REDACT_PII = _redact_oracle_sql()


# -- ANN oracle machinery: the hyperplanes/anchors below are the SAME lists
# the Spark queries pass in, rendered as SQL double literals.  All float
# reductions on both sides are sequential in-order double folds, so bucket
# signs, probe sets, cosines, and ranks agree bit-for-bit.

_LSH_PLANES = _hyperplanes(64, 4, 42)
_LSH_MASKS = _probe_masks(4, 2)
_IVF_ANCHORS = anchor_centroids(64, 8, 42)


def _dlit(v: float) -> str:
    s = repr(float(v))
    return s if ("e" in s or "E" in s or "inf" in s or "nan" in s) else s + "e0"


def _darr(vals) -> str:
    return "[" + ", ".join(_dlit(v) for v in vals) + "]"


def _fold_sum(products: str) -> str:
    """Strictly sequential double sum — DuckDB's mirror of F.aggregate."""
    return f"list_reduce(list_prepend(0.0e0, {products}), (acc, x) -> acc + x)"


def _dot_vv(a: str, b: str) -> str:
    return _fold_sum(f"list_transform(range(1, 65), k -> {a}[k] * {b}[k])")


def _cos_vv(a: str, b: str) -> str:
    return f"{_dot_vv(a, b)} / (sqrt({_dot_vv(a, a)}) * sqrt({_dot_vv(b, b)}))"


def _lsh_topk_oracle_sql() -> str:
    # planes enter via a VALUES join (not inline literals inside the fold
    # lambda — DuckDB would rebuild the 64-element array per element)
    planes = ", ".join(f"({i}, {_darr(p)})" for i, p in enumerate(_LSH_PLANES))
    probes = ", ".join(f"xor(home, {m})" for m in _LSH_MASKS)
    return f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
pl AS (SELECT * FROM (VALUES {planes}) p(i, pv)),
eb AS (
    SELECT e.vec_id,
           CAST(SUM(CASE WHEN {_dot_vv('e.v', 'pl.pv')} >= 0
                         THEN (1 << pl.i) ELSE 0 END) AS BIGINT) AS bucket
    FROM e CROSS JOIN pl GROUP BY e.vec_id
),
q AS (SELECT vec_id AS query_id, bucket AS home FROM eb WHERE vec_id < 5),
probes AS (SELECT query_id, unnest([{probes}]) AS bucket FROM q),
cand AS (
    SELECT DISTINCT p.query_id, c.vec_id
    FROM probes p JOIN eb c ON c.bucket = p.bucket
),
scored AS (
    SELECT cand.query_id, cand.vec_id, {_cos_vv('cv.v', 'qv.v')} AS cos
    FROM cand
    JOIN e cv ON cv.vec_id = cand.vec_id
    JOIN e qv ON qv.vec_id = cand.query_id
)
SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
    FROM scored
) WHERE rank <= 5
"""


SQL_LSH_TOPK = _lsh_topk_oracle_sql()


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN, oracle-verified in full: the DuckDB side
    recomputes the sign buckets from the same hyperplane literals and the
    same in-order folds, probes the same Hamming-≤2 mask set, and ranks by
    the same exact cosine — so the approximate semantics are what is
    checked.  Quality: recall@5 vs brute force is measured per round by the
    bench harness (BENCH ann_recall)."""
    emb = _t(spark, sf_dir, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = emb.select("vec_id", dv.alias("embedding"))
    q = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(
        corpus, q, k=5, n_planes=4, seed=42, dim=64, n_probe_bits=2, impl="expr"
    )
    return out.select("query_id", "vec_id", "rank")


def _ivf_topk_oracle_sql() -> str:
    # centroids via VALUES join, same rationale as the LSH planes
    cents = ", ".join(f"({i}, {_darr(c)})" for i, c in enumerate(_IVF_ANCHORS))
    dist = _fold_sum(
        "list_transform(range(1, 65), "
        "k -> (e.v[k] - ce.cent[k]) * (e.v[k] - ce.cent[k]))"
    )
    return f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
ce AS (SELECT * FROM (VALUES {cents}) c(ci, cent)),
cd AS (
    SELECT e.vec_id, ce.ci, {dist} AS d
    FROM e CROSS JOIN ce
),
ranked AS (
    SELECT vec_id, ci,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM cd
),
assign AS (SELECT vec_id, ci FROM ranked WHERE rn = 1),
qprobe AS (SELECT vec_id AS query_id, ci FROM ranked WHERE vec_id < 5 AND rn <= 5),
cand AS (
    SELECT q.query_id, a.vec_id
    FROM qprobe q JOIN assign a ON a.ci = q.ci
),
qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
    SELECT cand.query_id, cand.vec_id, {_cos_vv('c.v', 'qv.qv')} AS cos
    FROM cand
    JOIN e c ON c.vec_id = cand.vec_id
    JOIN qv ON qv.query_id = cand.query_id
)
SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
    FROM scored
) WHERE rank <= 5
"""


SQL_IVF_TOPK = _ivf_topk_oracle_sql()


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a PERSISTED coarse quantizer: the centroids enter as
    plan-time literals (anchor_centroids — a seeded anchor set standing in
    for an offline-trained k-means artifact), so no index refit runs per
    query invocation (round-2 finding) and the DuckDB oracle replicates
    assignment, probing, and ranking exactly.  kmeans_centroids remains the
    data-adaptive trainer, covered by pytest + the bench recall harness."""
    emb = _t(spark, sf_dir, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = emb.select("vec_id", dv.alias("embedding"))
    q = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(
        corpus, q, k=5, n_lists=8, n_probe=5, centroids=_IVF_ANCHORS, impl="expr"
    )
    return out.select("query_id", "vec_id", "rank")


def q_embedding_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal over a doubled corpus at threshold
    0.99.  The vectors are near-random (max off-diagonal cosine ≤ 0.61 at
    every SF, no zero/duplicate vectors — verified offline), so the only
    pairs at ≥ 0.99 are the exact copies, which identical sign buckets
    always catch ⟹ survivors = the original row count, an engine-
    independent oracle."""
    from jurisprudencia_privada_etl_spark.operators.similarity import embedding_dedup

    emb = _t(spark, sf_dir, "embeddings")
    doubled = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 1_000_000))
    out = embedding_dedup(doubled, threshold=0.99, n_planes=8, dim=64)
    return out.agg(F.count("*").alias("n_vecs"))


SQL_EMBEDDING_DEDUP_COUNT = "SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings"


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end: synthesize container-framed binary
    assets, run the real decode/featurize kernels, and emit the engine-
    independent projection — byte count plus a digest of the payload bytes
    (as sha256 of the lowercase hex encoding, because DuckDB 1.0 has no
    sha256(BLOB) overload).  The oracle reconstructs the exact payload hex
    from the canonical header literals + the sha256 content chain.  Decoded
    feature VALUES stay pinned by pytest (they are codec outputs, not SQL)."""
    # payload_sha is derived JVM-side on the SAME pass as the decode and
    # carried through the Arrow stage (passthrough) — the former
    # feats⋈pay self-join re-generated every asset payload on the second
    # branch and shuffled on asset_id for a frame that is one row per
    # input row anyway (guide §8: one pass over the heavy bytes).
    assets = synthetic_assets(spark, 200, seed=42).withColumn(
        "payload_sha", F.sha2(F.lower(F.hex(F.col("data"))), 256)
    )
    feats = extract_features(assets, passthrough=["payload_sha"])
    return feats.select("asset_id", "media_type", "n_bytes", "payload_sha")


def _multimodal_oracle_sql(n: int = 200, seed: int = 42) -> str:
    from jurisprudencia_privada_etl_spark.operators import multimodal as mm

    def chain(n_bytes: int) -> str:
        blocks = (n_bytes + 31) // 32
        return (
            f"substr(array_to_string(list_transform(range(0, {blocks}), "
            f"j -> sha256('{seed}:' || i || ':' || j)), ''), 1, {2 * n_bytes})"
        )

    return f"""
WITH a AS (
    SELECT i AS asset_id,
           ['image', 'audio', 'video'][((i + {seed}) % 3) + 1] AS media_type,
           CASE ((i + {seed}) % 3)
               WHEN 0 THEN '{mm.bmp_header().hex()}' || {chain(mm.IMG_DATA_BYTES)}
               WHEN 1 THEN '{mm.wav_header().hex()}' || {chain(mm.AUDIO_DATA_BYTES)}
               ELSE '{b"BLOB:".hex()}' || {chain(mm.VIDEO_DATA_BYTES)}
           END AS payload_hex
    FROM range(0, {n}) t(i)
)
SELECT asset_id, media_type,
       CAST(length(payload_hex) // 2 AS INT) AS n_bytes,
       sha256(payload_hex) AS payload_sha
FROM a
"""


SQL_MULTIMODAL_FEATURES = _multimodal_oracle_sql()


# ---------------------------------------------------------------------------
# change data feed + CDC interchange (round 3; SURVEY.md §8)
# ---------------------------------------------------------------------------


def q_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delta between the table state as of epoch 2 and the final
    state (operators/change_feed.diff_states — the Delta-CDF-shaped feed).
    The oracle recomputes both LWW states and classifies via a full outer
    join, so insert/delete/update_pre/postimage semantics are all checked."""
    from jurisprudencia_privada_etl_spark.operators.change_feed import diff_states

    # (A fused form — one window pass yielding both states and the feed —
    # was interleave-A/B'd here and measured slightly SLOWER at bench scale:
    # the compositional form's two prefix-window branches parallelize across
    # the same cores — so the textbook two-state + diff_states shape stays.)
    log = derived_changelog(spark, sf_dir)
    cols = ["repo", "path", "ordinal", "content_sha"]

    def state(df):
        live = lww_dedup(df, ["repo", "path"], "ordinal").where(F.col("op") != "D")
        return live.select(
            "repo", "path", "ordinal", F.sha2(F.col("content"), 256).alias("content_sha")
        )

    old = state(log.where(F.col("epoch") <= 2))
    new = state(log)
    return diff_states(old, new, ["repo", "path"]).select(
        *cols, F.col("_change_type").alias("change_type")
    )


SQL_CHANGE_DATA_FEED = f"""
WITH {CHANGELOG_CTE},
s0 AS (
    SELECT repo, path, ordinal, sha256(content) AS content_sha FROM (
        SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY ordinal DESC) rn
        FROM changelog WHERE epoch <= 2
    ) WHERE rn = 1 AND op <> 'D'
),
s1 AS (
    SELECT repo, path, ordinal, sha256(content) AS content_sha FROM (
        SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY ordinal DESC) rn
        FROM changelog
    ) WHERE rn = 1 AND op <> 'D'
),
j AS (
    SELECT s0.repo AS r0, s0.path AS p0, s0.ordinal AS o0, s0.content_sha AS c0,
           s1.repo AS r1, s1.path AS p1, s1.ordinal AS o1, s1.content_sha AS c1
    FROM s0 FULL OUTER JOIN s1 ON s0.repo = s1.repo AND s0.path = s1.path
)
SELECT r1 AS repo, p1 AS path, o1 AS ordinal, c1 AS content_sha, 'insert' AS change_type
FROM j WHERE r0 IS NULL
UNION ALL
SELECT r0, p0, o0, c0, 'delete' FROM j WHERE r1 IS NULL
UNION ALL
SELECT r0, p0, o0, c0, 'update_preimage' FROM j
WHERE r0 IS NOT NULL AND r1 IS NOT NULL AND o0 <> o1
UNION ALL
SELECT r1, p1, o1, c1, 'update_postimage' FROM j
WHERE r0 IS NOT NULL AND r1 IS NOT NULL AND o0 <> o1
"""


def q_debezium_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium envelope round trip: the derived changelog is serialized to
    envelope JSON (op c/u/d, before/after images, source.lsn) and normalized
    back through sources/debezium.parse_debezium — from_json with the
    declared envelope schema, all JVM-side.  The oracle computes the parse's
    expected output directly from the events table (the envelope is a
    deterministic function of it), so op mapping, delete-image selection,
    lsn ordering and epoch derivation are all value-checked."""
    from jurisprudencia_privada_etl_spark.sources.debezium import parse_debezium
    from jurisprudencia_privada_etl_spark.tables import fan_out_small_scan, table_bytes

    # double JSON serde is pure map work; fan a sub-split events scan out
    # across cores (size-gated no-op at scale — see tables.fan_out_small_scan)
    log = fan_out_small_scan(
        spark, derived_changelog(spark, sf_dir), table_bytes(sf_dir, "events")
    )
    row = F.struct("repo", "path", "commit", "lang", "content")
    payload = F.struct(
        F.when(F.col("op") == "D", row).alias("before"),
        F.when(F.col("op") != "D", row).alias("after"),
        F.struct(
            F.lit(None).cast("long").alias("ts_ms"),
            F.col("ordinal").alias("lsn"),
            F.lit("app").alias("db"),
            F.lit("repos").alias("table"),
        ).alias("source"),
        F.when(F.col("op") == "I", F.lit("c"))
        .when(F.col("op") == "U", F.lit("u"))
        .otherwise(F.lit("d"))
        .alias("op"),
        F.lit(None).cast("long").alias("ts_ms"),
    )
    raw = log.select(F.to_json(F.struct(payload.alias("payload"))).alias("value"))
    return parse_debezium(raw, events_per_epoch=4096).select(
        "epoch", "ordinal", "op", "repo", "path", "commit", "lang", "content"
    )


SQL_DEBEZIUM_PARSE = f"""
WITH {CHANGELOG_CTE}
SELECT ordinal // 4096 AS epoch, ordinal, op, repo, path, commit, lang, content
FROM changelog
"""


# ---------------------------------------------------------------------------
# temporal family (round 4): as-of join, SCD2 history, sessionization,
# interval join, KMV distinct sketch.  The CDC engine's time-dimension
# companions — "what WAS true at each event's own timestamp" instead of
# sink.py's "what is true now" (see operators/temporal.py module docstring).
# ---------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each event picks the user's most recent order at
    or before the event timestamp (here: the latest historical order — the
    synthetic orders all predate the events, which exercises the unbounded
    lookback).  Implementation is the union+ordered-window plan in
    operators/temporal.asof_join — ONE shuffle, no join node; the oracle is
    the standard-SQL row_number-over-inequality-join formulation."""
    from jurisprudencia_privada_etl_spark.operators.temporal import asof_join

    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    out = asof_join(
        events,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
        how="left",
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_seconds(F.col("_asof_ts")).alias("asof_epoch"),
        "o_orderkey",
        "o_totalprice",
    )


SQL_ASOF_JOIN = """
WITH j AS (
    SELECT e.event_id, e.user_id,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS asof_epoch,
           o.o_orderkey, o.o_totalprice,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY o.o_orderdate DESC NULLS LAST,
                                       o.o_orderkey DESC NULLS LAST) AS rn
    FROM events e
    LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id, asof_epoch, o_orderkey, o_totalprice FROM j WHERE rn = 1
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build: each customer's orders become contiguous validity
    intervals (valid_from/valid_to half-open, version_no, is_current) via
    one lead() window — operators/temporal.scd2_build.  o_orderkey breaks
    (o_custkey, o_orderdate) ties (32 collisions at sf0.01)."""
    from jurisprudencia_privada_etl_spark.operators.temporal import scd2_build

    orders = _t(spark, sf_dir, "orders")
    hist = scd2_build(
        orders,
        key="o_custkey",
        ts="o_orderdate",
        attrs=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
    )
    return hist.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        epoch_seconds(F.col("valid_from")).alias("valid_from_epoch"),
        epoch_seconds(F.col("valid_to")).alias("valid_to_epoch"),
        "version_no",
        "is_current",
    )


SQL_SCD2_HISTORY = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS valid_from_epoch,
       CAST(floor(epoch(lead(o_orderdate) OVER w)) AS BIGINT) AS valid_to_epoch,
       CAST(row_number() OVER w AS INT) AS version_no,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


#: gap for the sessionization queries — 30 min splits the synthetic event
#: stream well below its median per-user inter-event gap (~7.3h at sf0.01),
#: yielding many multi-event sessions without degenerating to one-per-event.
SESSION_GAP_S = 1800


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/temporal.sessionize): per-event
    session assignment via lag → boundary flag → running sum in one window,
    then rolled up to one row per session."""
    from jurisprudencia_privada_etl_spark.operators.temporal import sessionize

    events = _t(spark, sf_dir, "events")
    sess = sessionize(events, key="user_id", ts="ts", gap_seconds=SESSION_GAP_S)
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min(epoch_seconds(F.col("ts"))).alias("sess_start_epoch"),
        F.max(epoch_seconds(F.col("ts"))).alias("sess_end_epoch"),
        F.count_distinct("event_type").alias("n_event_types"),
    )


SQL_SESSIONIZE = f"""
WITH flagged AS (
    SELECT user_id, ts, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {SESSION_GAP_S}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
sess AS (
    SELECT user_id, ts, event_type,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(CAST(floor(epoch(ts)) AS BIGINT)) AS sess_start_epoch,
       max(CAST(floor(epoch(ts)) AS BIGINT)) AS sess_end_epoch,
       count(DISTINCT event_type) AS n_event_types
FROM sess GROUP BY user_id, session_seq
"""


def q_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join composed over sessionization: purchase events
    are attributed to the session interval [start, end] they fall into.
    operators/temporal.interval_join explodes each interval into hour-wide
    time buckets and equi-joins on (user, bucket) — the bounded-fan-out
    scale path — while the oracle runs the naive BETWEEN theta join;
    identical results prove the bucketing loses/duplicates nothing.
    Sessions of one user are disjoint, so attribution is unique."""
    from jurisprudencia_privada_etl_spark.operators.temporal import interval_join, sessionize

    events = _t(spark, sf_dir, "events")
    sess = sessionize(events, key="user_id", ts="ts", gap_seconds=SESSION_GAP_S)
    intervals = sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    purchases = events.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    att = interval_join(
        purchases,
        intervals,
        on="user_id",
        left_ts="ts",
        right_start="s_start",
        right_end="s_end",
        bucket_seconds=3600,
        how="inner",
    )
    return att.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_purchases"),
        F.min("event_id").alias("first_purchase_id"),
    )


SQL_SESSION_ATTRIBUTION = f"""
WITH flagged AS (
    SELECT user_id, ts, event_type, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {SESSION_GAP_S}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
sess AS (
    SELECT user_id, ts, event_id,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
),
intervals AS (
    SELECT user_id, session_seq, min(ts) AS s_start, max(ts) AS s_end
    FROM sess GROUP BY user_id, session_seq
),
purchases AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT i.user_id, i.session_seq, count(*) AS n_purchases,
       min(p.event_id) AS first_purchase_id
FROM purchases p
JOIN intervals i
  ON i.user_id = p.user_id AND p.ts BETWEEN i.s_start AND i.s_end
GROUP BY i.user_id, i.session_seq
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (operators/packing.pack_sequences):
    documents are concatenated per shard in doc_id order and cut into
    512-token sequences; each doc is assigned the sequence its first
    token lands in.  Pure prefix-sum arithmetic — the oracle reproduces
    it with the same window SQL."""
    from jurisprudencia_privada_etl_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", token_count("text").cast("long").alias("n_tokens"))
    return pack_sequences(
        toks, token_col="n_tokens", order_col="doc_id",
        shard=F.pmod(F.col("doc_id"), F.lit(4)), max_tokens=512,
    ).select("doc_id", "shard", "n_tokens", "seq_id", "seq_offset")


SQL_PACK_SEQUENCES = """
WITH t AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT)
               AS n_tokens,
           doc_id % 4 AS shard
    FROM documents
)
SELECT doc_id, shard, n_tokens,
       CAST((sum(n_tokens) OVER w - n_tokens) // 512 AS BIGINT) AS seq_id,
       CAST((sum(n_tokens) OVER w - n_tokens) % 512 AS BIGINT) AS seq_offset
FROM t
WINDOW w AS (PARTITION BY shard ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING)
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: shingle-overlap pairs (the
    `ngram_jaccard` edge set) closed into connected components
    (operators/graph.connected_components — default large-star/small-star
    contraction, O(log² n) rounds diameter-independent; min-label
    propagation kept as the property-tested twin), every document
    labeled with its cluster's min doc_id, singletons labeling
    themselves.  The oracle computes the same closure with a recursive
    CTE — min-id labeling is algorithm-independent, so the two must agree
    exactly."""
    from jurisprudencia_privada_etl_spark.operators.graph import attach_components

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 80)
    pairs = (
        ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.0)
        .where(F.col("jaccard") > 0)
        .select("id_a", "id_b")
    )
    return attach_components(d.select("doc_id"), pairs, "doc_id").select("doc_id", "component")


SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE d AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
           FROM documents WHERE doc_id < 80),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1) + CASE WHEN len(toks) >= 3 THEN 0 ELSE 1 END),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS s
    FROM d
),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
edges AS (
    SELECT id_a AS s, id_b AS t FROM pairs
    UNION
    SELECT id_b AS s, id_a AS t FROM pairs
),
reach(node, r) AS (
    SELECT doc_id, doc_id FROM (SELECT DISTINCT doc_id FROM d)
    UNION
    SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.node
)
SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketches.kmv_distinct): per
    return flag, estimate distinct part keys from the 256 minimum values of
    a deterministic multiplicative hash — pure integer arithmetic, so the
    DuckDB oracle reproduces the estimate BIT-FOR-BIT (the reason this
    engine ships KMV alongside Spark's unpinnable HLL++); the exact
    distinct count rides along for the error comparison."""
    from jurisprudencia_privada_etl_spark.operators.sketches import (
        POLY_DOMAIN,
        kmv_distinct,
        kmv_hash_poly,
    )

    li = _t(spark, sf_dir, "lineitem")
    sk = kmv_distinct(
        li, ["l_returnflag"], kmv_hash_poly(F.col("l_partkey")), k=256, domain=POLY_DOMAIN
    )
    exact = li.groupBy("l_returnflag").agg(F.count_distinct("l_partkey").alias("exact_distinct"))
    return sk.join(exact, "l_returnflag")


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketches.quantile_sketch): per
    event type, p50/p90/p99 of `value` rank-selected from the 64
    minimum-hash rows — a deterministic uniform sample whose bottom-k sets
    merge exactly, so per-day/per-partition sketches roll up without
    re-reading raw rows.  Hash + rank arithmetic is engine-portable; the
    DuckDB oracle reproduces every selected value bit-for-bit."""
    from jurisprudencia_privada_etl_spark.operators.sketches import (
        kmv_hash_poly,
        quantile_estimate,
        quantile_sketch,
    )

    e = _t(spark, sf_dir, "events")
    sk = quantile_sketch(
        e, ["event_type"], "value", kmv_hash_poly(F.col("event_id")), k=64
    )
    return quantile_estimate(sk, ["event_type"], [0.5, 0.9, 0.99])


# the oracle replays the same construction: bottom-64 rows by the
# multiplicative hash (ties (h, v)), then value-rank selection at
# ceil(q * n) — q forced to DOUBLE so both engines run the identical IEEE
# product (a DECIMAL q would ceil differently when q*n lands on an integer)
SQL_SKETCH_QUANTILES = """
WITH s AS (
    SELECT event_type, value AS v,
           (event_id * 1000003) % 4294967296 AS h,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY (event_id * 1000003) % 4294967296 ASC, value ASC
           ) AS rn
    FROM events
),
k AS (SELECT event_type, h, v FROM s WHERE rn <= 64),
n AS (SELECT event_type, count(*) AS ns FROM k GROUP BY event_type),
r AS (
    SELECT k.event_type, v, h, n.ns,
           row_number() OVER (
               PARTITION BY k.event_type ORDER BY v ASC, h ASC
           ) AS vr
    FROM k JOIN n USING (event_type)
)
SELECT event_type, CAST(q AS DOUBLE) AS q, v AS value
FROM r, (VALUES (0.5), (0.9), (0.99)) AS qs(q)
WHERE vr = greatest(1, CAST(ceil(CAST(q AS DOUBLE) * ns) AS BIGINT))
"""


SQL_KMV_DISTINCT = """
WITH h AS (
    SELECT DISTINCT l_returnflag, (l_partkey * 1000003) % 4294967296 AS hh FROM lineitem
),
r AS (
    SELECT l_returnflag, hh,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY hh ASC) AS rn
    FROM h
),
s AS (
    SELECT l_returnflag, count(*) AS n_kept, max(hh) AS kth_hash
    FROM r WHERE rn <= 256 GROUP BY l_returnflag
),
e AS (
    SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct
    FROM lineitem GROUP BY l_returnflag
)
SELECT s.l_returnflag, s.n_kept, s.kth_hash,
       CASE WHEN s.n_kept < 256 THEN s.n_kept
            ELSE (255 * 4294967296) // s.kth_hash END AS distinct_est,
       e.exact_distinct
FROM s JOIN e USING (l_returnflag)
"""


# ---------------------------------------------------------------------------
# incremental materialized-view maintenance (operators/mview.py, round 4)
# ---------------------------------------------------------------------------

def _mview_states(spark: SparkSession, sf_dir: str):
    """(prefix state, final state, feed) of the derived changelog, projected
    to the view inputs.  ``lang`` is PAYLOAD (an update can move a key
    between groups — the group-migration case both refresh paths must
    handle).  ``content_len`` is projected BEFORE the windows so their
    shuffles never carry content bytes (guide §2.3).  A fused
    single-window form of both states was interleave-A/B'd here and
    measured ~25% slower at bench scale (its one window subtree recomputes
    per consuming branch, while the compositional form's independent
    branches parallelize) — the compositional shape stays."""
    from jurisprudencia_privada_etl_spark.operators.change_feed import diff_states

    log = derived_changelog(spark, sf_dir).select(
        "repo", "path", "ordinal", "op", "epoch", "lang",
        F.length("content").cast("long").alias("content_len"),
    )

    def state(df):
        live = lww_dedup(df, ["repo", "path"], "ordinal").where(F.col("op") != "D")
        return live.select("repo", "path", "ordinal", "lang", "content_len")

    old = state(log.where(F.col("epoch") < 3))
    new = state(log)
    return old, new, diff_states(old, new, ["repo", "path"])


MVIEW_STATES_SQL = f"""
WITH {CHANGELOG_CTE},
state AS (
    SELECT repo, path, ordinal, lang, CAST(length(content) AS BIGINT) AS content_len FROM (
        SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY ordinal DESC) rn
        FROM changelog
    ) WHERE rn = 1 AND op <> 'D'
)
"""


def q_mview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-maintainable view refresh: a count/sum view grouped by ``lang``
    is computed at the epoch<3 prefix state, then advanced to the final
    state by applying the signed delta of the change feed — one groupBy over
    the feed + one join against the stored view, never a base rescan
    (operators/mview.py).  The oracle is a straight GROUP BY over the FINAL
    state only: incremental maintenance must be indistinguishable from
    recompute, including dropped empty groups and NULL-sum restoration."""
    from jurisprudencia_privada_etl_spark.operators.mview import (
        aggregate_view,
        apply_delta,
        delta_from_feed,
        public_columns,
    )

    old, _new, feed = _mview_states(spark, sf_dir)
    specs = [
        ("n_paths", "count", None),
        ("sum_ordinal", "sum", "ordinal"),
        ("sum_content_len", "sum", "content_len"),
    ]
    view0 = aggregate_view(old, ["lang", "repo"], specs)
    view1 = apply_delta(
        view0, delta_from_feed(feed, ["lang", "repo"], specs), ["lang", "repo"], specs
    )
    return view1.select(*public_columns(["lang", "repo"], specs))


SQL_MVIEW_INCREMENTAL = MVIEW_STATES_SQL + """
SELECT lang, repo,
       COUNT(*) AS n_paths,
       CAST(SUM(ordinal) AS BIGINT) AS sum_ordinal,
       CAST(SUM(content_len) AS BIGINT) AS sum_content_len
FROM state GROUP BY lang, repo
"""


def q_mview_minmax_rescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-self-maintainable view refresh: min/max can't be maintained as a
    delta under deletes (the removed row may have been the extreme), so the
    view refreshes by recomputing ONLY the groups the feed touched and
    passing untouched groups through from the stored view
    (operators/mview.refresh_groups).  Same recompute-parity oracle."""
    from jurisprudencia_privada_etl_spark.operators.mview import (
        aggregate_view,
        public_columns,
        refresh_groups,
    )

    old, new, feed = _mview_states(spark, sf_dir)
    specs = [
        ("n_paths", "count", None),
        ("min_ordinal", "min", "ordinal"),
        ("max_content_len", "max", "content_len"),
    ]
    view0 = aggregate_view(old, ["lang", "repo"], specs)
    view1 = refresh_groups(view0, feed, new, ["lang", "repo"], specs)
    return view1.select(*public_columns(["lang", "repo"], specs))


SQL_MVIEW_MINMAX_RESCAN = MVIEW_STATES_SQL + """
SELECT lang, repo,
       COUNT(*) AS n_paths,
       MIN(ordinal) AS min_ordinal,
       MAX(content_len) AS max_content_len
FROM state GROUP BY lang, repo
"""


# ---------------------------------------------------------------------------
# incrementally-maintained inverted index (operators/search_index.py, round 4)
# ---------------------------------------------------------------------------

def _index_states(spark: SparkSession, sf_dir: str):
    """(prefix state, final state, feed) carrying the raw text for
    tokenization.  Compositional two-window + diff_states form: a fused
    single-window variant of both states was interleave-A/B'd here like
    the mview states and measured ~18% slower (0.86 vs 1.05 s median) —
    its one window subtree recomputes per consuming branch."""
    from jurisprudencia_privada_etl_spark.operators.change_feed import diff_states

    log = derived_changelog(spark, sf_dir)

    def state(df):
        live = lww_dedup(df, ["repo", "path"], "ordinal").where(F.col("op") != "D")
        return live.select("repo", "path", "ordinal", "content")

    old = state(log.where(F.col("epoch") < 3))
    new = state(log)
    return old, new, diff_states(old, new, ["repo", "path"])


INDEX_STATE_SQL = f"""
WITH {CHANGELOG_CTE},
state AS (
    SELECT repo, path, ordinal, content FROM (
        SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY ordinal DESC) rn
        FROM changelog
    ) WHERE rn = 1 AND op <> 'D'
),
tok AS (
    SELECT repo, path,
           unnest(string_split_regex(lower(content), '[^a-z0-9]+')) AS term
    FROM state
),
postings AS (
    SELECT term, repo, path, COUNT(*) AS tf
    FROM tok WHERE term <> '' GROUP BY term, repo, path
)
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's search-index sink, lake-native and incremental: an
    inverted index (term → posting rows) built at the epoch<3 prefix state
    is advanced to the final state by exploding the document-level change
    feed into signed posting deltas (operators/search_index.apply_feed) —
    O(changed docs × tokens), never a corpus re-tokenization.  The oracle
    tokenizes the FINAL state only and aggregates per term: incremental
    index maintenance must equal a from-scratch build."""
    from jurisprudencia_privada_etl_spark.operators.search_index import apply_feed, build_index

    old, _new, feed = _index_states(spark, sf_dir)
    index0 = build_index(old, "content", ["repo", "path"])
    index1 = apply_feed(index0, feed, "content", ["repo", "path"])
    return index1.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tf").cast("long").alias("total_tf")
    )


SQL_INVERTED_INDEX = INDEX_STATE_SQL + """
SELECT term, COUNT(*) AS n_docs, CAST(SUM(tf) AS BIGINT) AS total_tf
FROM postings GROUP BY term
"""


def q_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-semantics term search over the incrementally-maintained index:
    documents containing every query term, scored by total tf with a
    deterministic key tie-break.  The postings scan prunes to
    ``term IN (...)`` — O(matching postings), not O(index)."""
    from jurisprudencia_privada_etl_spark.operators.search_index import (
        apply_feed,
        build_index,
        search,
    )

    old, _new, feed = _index_states(spark, sf_dir)
    index0 = build_index(old, "content", ["repo", "path"])
    index1 = apply_feed(index0, feed, "content", ["repo", "path"])
    return search(index1, ["69", "3"], k=20, keys=["repo", "path"])


SQL_INDEX_SEARCH = INDEX_STATE_SQL + """
SELECT repo, path, CAST(SUM(tf) AS BIGINT) AS score
FROM postings WHERE term IN ('69', '3')
GROUP BY repo, path
HAVING COUNT(DISTINCT term) = 2
ORDER BY score DESC, repo, path
LIMIT 20
"""


def q_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable whole-table state digest (operators/fsck.py): one
    order/partitioning-independent scan whose value any ANSI engine
    reproduces — the north rule's "row-for-row sha256 equality vs the
    reference's replayed state" as a 1-row aggregate instead of a
    table-sized comparison."""
    from jurisprudencia_privada_etl_spark.operators.fsck import table_digest

    d = _t(spark, sf_dir, "documents")
    return table_digest(d, ["doc_id", "text", "lang", "source", "n_chars"])


SQL_TABLE_DIGEST = """
SELECT count(*) AS n_rows,
       coalesce(bit_xor(from_hex(substr(sha256(proj), 1, 14))::BIT::BIGINT), 0)
           AS digest_xor,
       CAST(coalesce(sum(from_hex(substr(sha256(proj), 1, 14))::BIT::HUGEINT), 0)
            AS VARCHAR) AS digest_sum
FROM (
  SELECT concat_ws(chr(0),
                   coalesce(doc_id::VARCHAR, ''),
                   coalesce(text::VARCHAR, ''),
                   coalesce(lang::VARCHAR, ''),
                   coalesce(source::VARCHAR, ''),
                   coalesce(n_chars::VARCHAR, '')) AS proj
  FROM documents
)
"""


def q_grouped_state_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group state digests — the anti-entropy repair primitive
    (operators/antientropy.py `bucket_digests`) in its engine-portable
    form: rows group on a sha256-derived id (any ANSI engine computes the
    identical grouping — the physical xxhash64 bucket id is Spark-only),
    each group folds to the same (n_rows, xor, sum) digest triple as
    table_digest.  Two replicas compare 16 rows to find WHICH slices of a
    100 TB table diverged, then re-ship only those."""
    d = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    proj = F.concat_ws(
        "\x00", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    )
    h56 = F.conv(F.substring(F.sha2(proj, 256), 1, 14), 16, 10).cast("long")
    gid = F.pmod(
        F.conv(
            F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 4), 16, 10
        ).cast("long"),
        F.lit(16),
    )
    return (
        d.select(gid.alias("group_id"), h56.alias("h"))
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.bit_xor("h"), F.lit(0)).alias("digest_xor"),
            F.coalesce(
                F.sum(F.col("h").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("string")
            .alias("digest_sum"),
        )
    )


SQL_GROUPED_STATE_DIGEST = """
SELECT group_id,
       count(*) AS n_rows,
       coalesce(bit_xor(h), 0) AS digest_xor,
       CAST(coalesce(sum(h::HUGEINT), 0) AS VARCHAR) AS digest_sum
FROM (
  SELECT from_hex(substr(sha256(doc_id::VARCHAR), 1, 4))::BIT::BIGINT % 16
             AS group_id,
         from_hex(substr(sha256(concat_ws(chr(0),
                   coalesce(doc_id::VARCHAR, ''),
                   coalesce(text::VARCHAR, ''),
                   coalesce(lang::VARCHAR, ''),
                   coalesce(source::VARCHAR, ''),
                   coalesce(n_chars::VARCHAR, ''))), 1, 14))::BIT::BIGINT AS h
  FROM documents
)
GROUP BY group_id
"""


def q_merge_into_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic three-branch MERGE INTO (operators/merge_into.py) on the
    documents table: conditional matched-delete before update-all,
    conditional insert, and a not-matched-by-source delete — the full
    Delta/Iceberg MERGE surface in one full-outer-join pass."""
    from jurisprudencia_privada_etl_spark.operators.merge_into import merge_into

    d = _t(spark, sf_dir, "documents")
    tgt = d.where("doc_id % 4 != 0").select("doc_id", "lang", "source", "n_chars")
    src = d.where("doc_id % 2 = 0").select(
        "doc_id",
        F.upper("lang").alias("lang"),
        "source",
        (F.col("n_chars") + 1000).alias("n_chars"),
    )
    return merge_into(
        tgt,
        src,
        on=["doc_id"],
        when_matched_update="all",
        when_matched_delete="s.n_chars % 7 = 0",
        when_not_matched_insert="all",
        when_not_matched_insert_condition="s.n_chars % 3 != 0",
        when_not_matched_by_source_delete="t.doc_id % 9 = 0",
    )


SQL_MERGE_INTO_FULL = """
WITH tgt AS (
  SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 4 != 0
), src AS (
  SELECT doc_id, upper(lang) AS lang, source, n_chars + 1000 AS n_chars
  FROM documents WHERE doc_id % 2 = 0
)
SELECT s.doc_id AS doc_id, s.lang AS lang, s.source AS source, s.n_chars AS n_chars
FROM tgt t JOIN src s ON t.doc_id = s.doc_id
WHERE s.n_chars % 7 != 0
UNION ALL
SELECT s.doc_id, s.lang, s.source, s.n_chars FROM src s
WHERE s.doc_id NOT IN (SELECT doc_id FROM tgt) AND s.n_chars % 3 != 0
UNION ALL
SELECT t.doc_id, t.lang, t.source, t.n_chars FROM tgt t
WHERE t.doc_id NOT IN (SELECT doc_id FROM src) AND t.doc_id % 9 != 0
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cdc_lww_replay": q_cdc_lww_replay,
    "cdc_mor_replay": q_cdc_mor_replay,
    "lww_latest_event_per_user": q_lww_latest_event_per_user,
    "topk_per_group": q_topk_per_group,
    "broadcast_dim_join": q_broadcast_dim_join,
    "theta_containment_join": q_theta_containment_join,
    "anti_join": q_anti_join,
    "semi_join": q_semi_join,
    "arrays_overlap_filter": q_arrays_overlap_filter,
    "array_ops": q_array_ops,
    "date_format": q_date_format,
    "sha2_invariant": q_sha2_invariant,
    "strip_html": q_strip_html,
    "agg_counters": q_agg_counters,
    "lineage_counts": q_lineage_counts,
    "distinct_folders": q_distinct_folders,
    "group_concat": q_group_concat,
    "exact_dedup": q_exact_dedup,
    "ngram_jaccard": q_ngram_jaccard,
    "embedding_topk": q_embedding_topk,
    "text_quality": q_text_quality,
    "window_analytics": q_window_analytics,
    "rollup_counts": q_rollup_counts,
    "date_from_path": q_date_from_path,
    "first_match_map": q_first_match_map,
    "complementary_pairs": q_complementary_pairs,
    "reconcile_missing": q_reconcile_missing,
    "sidecar_fuzzy_join": q_sidecar_fuzzy_join,
    "complementary_arrays": q_complementary_arrays,
    "canonical_hash": q_canonical_hash,
    "deterministic_uuid": q_deterministic_uuid,
    "faceted_triple": q_faceted_triple,
    "json_roundtrip": q_json_roundtrip,
    "complementary_merge": q_complementary_merge,
    "conflict_report": q_conflict_report,
    # dedup / ANN / text-analysis family (oracle-paired via group-count
    # restructuring or full literal-replication — see the section comment):
    "minhash_dedup_count": q_minhash_dedup_count,
    "simhash_dedup_count": q_simhash_dedup_count,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "redact_pii": q_redact_pii,
    "lsh_topk": q_lsh_topk,
    "ivf_topk": q_ivf_topk,
    "embedding_dedup_count": q_embedding_dedup_count,
    "multimodal_features": q_multimodal_features,
    # table-maintenance / CDC-interchange family (round 3):
    "change_data_feed": q_change_data_feed,
    "debezium_parse": q_debezium_parse,
    # temporal / sketch family (round 4):
    "asof_join": q_asof_join,
    "scd2_history": q_scd2_history,
    "sessionize": q_sessionize,
    "session_attribution": q_session_attribution,
    "kmv_distinct": q_kmv_distinct,
    "sketch_quantiles": q_sketch_quantiles,
    "dedup_clusters": q_dedup_clusters,
    "pack_sequences": q_pack_sequences,
    # incremental materialized-view maintenance (round 4):
    "mview_incremental": q_mview_incremental,
    "mview_minmax_rescan": q_mview_minmax_rescan,
    # incrementally-maintained inverted index (round 4):
    "inverted_index": q_inverted_index,
    "index_search": q_index_search,
    "table_digest": q_table_digest,
    "grouped_state_digest": q_grouped_state_digest,
    # generic three-branch MERGE INTO (round 4):
    "merge_into_full": q_merge_into_full,
}

ORACLES: dict[str, str] = {
    "cdc_lww_replay": SQL_CDC_LWW_REPLAY,
    "cdc_mor_replay": SQL_CDC_MOR_REPLAY,
    "lww_latest_event_per_user": SQL_LWW_LATEST_EVENT,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "broadcast_dim_join": SQL_BROADCAST_DIM_JOIN,
    "theta_containment_join": SQL_THETA_CONTAINMENT_JOIN,
    "anti_join": SQL_ANTI_JOIN,
    "semi_join": SQL_SEMI_JOIN,
    "arrays_overlap_filter": SQL_ARRAYS_OVERLAP_FILTER,
    "array_ops": SQL_ARRAY_OPS,
    "date_format": SQL_DATE_FORMAT,
    "sha2_invariant": SQL_SHA2_INVARIANT,
    "strip_html": SQL_STRIP_HTML,
    "agg_counters": SQL_AGG_COUNTERS,
    "lineage_counts": SQL_LINEAGE_COUNTS,
    "distinct_folders": SQL_DISTINCT_FOLDERS,
    "group_concat": SQL_GROUP_CONCAT,
    "exact_dedup": SQL_EXACT_DEDUP,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "text_quality": SQL_TEXT_QUALITY,
    "window_analytics": SQL_WINDOW_ANALYTICS,
    "rollup_counts": SQL_ROLLUP_COUNTS,
    "date_from_path": SQL_DATE_FROM_PATH,
    "first_match_map": SQL_FIRST_MATCH_MAP,
    "complementary_pairs": SQL_COMPLEMENTARY_PAIRS,
    "reconcile_missing": SQL_RECONCILE_MISSING,
    "sidecar_fuzzy_join": SQL_SIDECAR_FUZZY_JOIN,
    "complementary_arrays": SQL_COMPLEMENTARY_ARRAYS,
    "canonical_hash": SQL_CANONICAL_HASH,
    "deterministic_uuid": SQL_DETERMINISTIC_UUID,
    "faceted_triple": SQL_FACETED_TRIPLE,
    "json_roundtrip": SQL_JSON_ROUNDTRIP,
    "complementary_merge": SQL_COMPLEMENTARY_MERGE,
    "conflict_report": SQL_CONFLICT_REPORT,
    "minhash_dedup_count": SQL_MINHASH_DEDUP_COUNT,
    "simhash_dedup_count": SQL_SIMHASH_DEDUP_COUNT,
    "lang_id": SQL_LANG_ID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "redact_pii": SQL_REDACT_PII,
    "lsh_topk": SQL_LSH_TOPK,
    "ivf_topk": SQL_IVF_TOPK,
    "embedding_dedup_count": SQL_EMBEDDING_DEDUP_COUNT,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "change_data_feed": SQL_CHANGE_DATA_FEED,
    "debezium_parse": SQL_DEBEZIUM_PARSE,
    "asof_join": SQL_ASOF_JOIN,
    "scd2_history": SQL_SCD2_HISTORY,
    "sessionize": SQL_SESSIONIZE,
    "session_attribution": SQL_SESSION_ATTRIBUTION,
    "kmv_distinct": SQL_KMV_DISTINCT,
    "sketch_quantiles": SQL_SKETCH_QUANTILES,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "mview_incremental": SQL_MVIEW_INCREMENTAL,
    "mview_minmax_rescan": SQL_MVIEW_MINMAX_RESCAN,
    "inverted_index": SQL_INVERTED_INDEX,
    "index_search": SQL_INDEX_SEARCH,
    "table_digest": SQL_TABLE_DIGEST,
    "grouped_state_digest": SQL_GROUPED_STATE_DIGEST,
    "merge_into_full": SQL_MERGE_INTO_FULL,
}

# relational-completeness family (round 4 widening): interval/range join,
# pivot, grouping sets, histogram, set ops, salted hot-key agg, discrete
# percentiles, at-least-once dup tolerance, document chunking.
from jurisprudencia_privada_etl_spark.queries_relational import (  # noqa: E402
    build_registry as _relational_registry,
)

_REL_QUERIES, _REL_ORACLES = _relational_registry(CHANGELOG_CTE)
QUERIES.update(_REL_QUERIES)
ORACLES.update(_REL_ORACLES)

# TPC-H-style warehouse analytics family: pricing summary (full-scan
# partial agg), shipping priority (fact-fact join + top-k), local
# supplier volume (snowflake join with broadcast dims).
from jurisprudencia_privada_etl_spark.queries_tpch import (  # noqa: E402
    build_registry as _tpch_registry,
)

_TPCH_QUERIES, _TPCH_ORACLES = _tpch_registry()
QUERIES.update(_TPCH_QUERIES)
ORACLES.update(_TPCH_ORACLES)


# ---------------------------------------------------------------------------
# Registry ORDER (content untouched).  The external driver samples a prefix
# of the registry for its correctness file and has sampled the same first
# 50 since round 4, leaving the relational/TPC-H/mview/index/sketch
# families with judge-only receipts (VERDICT r05 #5: "interleave QUERIES so
# every family lands in the first 50 — update order, not content").  The
# weave below moves one representative of every later-round family into the
# first 50 positions; names, implementations and oracle SQL are IDENTICAL.
# ---------------------------------------------------------------------------

_FAMILY_WEAVE = [
    "tpch_pricing_summary", "mview_incremental", "inverted_index",
    "kmv_distinct", "dedup_clusters", "merge_into_full",
    "interval_range_join", "table_digest", "pack_sequences",
    "chunk_documents", "hash_split", "stratified_sample",
    "mview_minmax_rescan", "index_search", "sketch_quantiles",
    "grouped_state_digest", "pivot_counts", "grouping_sets_counts",
    "histogram_bins", "set_ops_users", "salted_hot_key_agg",
    "percentile_disc", "dup_tolerant_replay", "tpch_shipping_priority",
    "tpch_local_supplier_volume",
]


def _interleave_registry(reg: dict) -> dict:
    names = list(reg)
    weave = [n for n in _FAMILY_WEAVE if n in reg]
    rest = [n for n in names if n not in set(weave)]
    out_names = rest[:25]
    tail = rest[25:]
    i = j = 0
    while i < len(weave) or j < len(tail):
        if i < len(weave):
            out_names.append(weave[i]); i += 1
        if j < len(tail):
            out_names.append(tail[j]); j += 1
    assert sorted(out_names) == sorted(names)
    return {n: reg[n] for n in out_names}


QUERIES = _interleave_registry(QUERIES)
ORACLES = {n: ORACLES[n] for n in QUERIES}
