"""Driver correctness-gate queries and their DuckDB oracles.

Each entry in QUERIES is a callable (spark, sf_dir) -> DataFrame built
from the package's operators; ORACLES holds the equivalent ANSI SQL
that DuckDB runs over the same parquet tables. Both sides are written
so results are *bit-identical*: same tokenization regex, md5-based
hashing, identical arithmetic expression order (IEEE doubles are
deterministic when the op order matches), explicit BIGINT/DOUBLE casts,
deterministic tie-breaks in every window.

Naming contract: every computed column is aliased identically on both
sides (the driver sorts columns by name and value-hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.hashing import md5_qid
from .functions.text import bigrams_expr, tokens_expr
from .operators import canonicalizer, contamination, dedup, events, graph
from .operators import linker, metrics, parser, sampling, similarity, textstats
from .operators import viz
from .operators.chunker import chunk_documents

CHUNK_SIZE = 120  # word-unit chunking of the ~300-char synthetic docs
DICT_MIN_DF = 20  # tokens present in >= this many docs enter the dict

# ---------------------------------------------------------------------------
# shared loaders / building blocks (Spark side)
# ---------------------------------------------------------------------------


def _spread(spark: SparkSession, df: DataFrame, key: str | None = None) -> DataFrame:
    """The testdata parquets are a few MB — one file split — so every
    downstream map stage would run single-threaded regardless of
    master. Spread small inputs across the cluster once up front (a
    100 TB table arrives pre-split; this mirrors that).

    With `key` (each loader passes its unique/grouping id) the spread
    is a HASH repartition instead of round-robin: same shuffle, but
    (a) no round-robin pre-sort — sortBeforeRepartition exists to keep
    retried round-robin maps deterministic, and hash assignment is
    row-deterministic for free; (b) hashpartitioning(key) SATISFIES
    every downstream ClusteredDistribution whose grouping keys include
    it, so doc-keyed aggregations/windows lose their own exchange
    outright (kg_triples_raw: 2 exchanges → 1, measured ~1.5× —
    and a user-keyed events spread feeds every sessionize/funnel/asof
    window shuffle-free). Real 100 TB tables arrive clustered by
    exactly such a key; partitioning never changes values."""
    target = spark.sparkContext.defaultParallelism * 2
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(
        spark, spark.read.parquet(f"{sf_dir}/documents.parquet"), key="doc_id"
    )


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(
        spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"), key="vec_id"
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(
        spark, spark.read.parquet(f"{sf_dir}/events.parquet"), key="user_id"
    )


def _mentions(docs: DataFrame) -> DataFrame:
    """distinct (doc_id, token)."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_expr("text"))).alias("token")
    )


def _entity_dict(docs: DataFrame) -> DataFrame:
    """Broadcast alias dictionary derived deterministically from the
    corpus: tokens appearing in >= DICT_MIN_DF distinct docs, with
    md5-based Q-ids (FIXTURES.md §4 stand-in, rebuildable in SQL)."""
    # _mentions rows are already distinct per (doc_id, token) (the
    # explode is over array_distinct), so a plain count IS the distinct
    # doc count — skips the two-phase distinct-aggregate plan
    df = (
        _mentions(docs)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= DICT_MIN_DF)
    )
    return df.select(
        md5_qid("token").alias("entity_id"),
        F.col("token").alias("label"),
        F.col("token").alias("alias"),
        F.lit(0).alias("rank"),
    )


def _triples_raw(docs: DataFrame) -> DataFrame:
    """Adjacent-token co-occurrence triples with multiplicity."""
    pairs = docs.select(
        "doc_id", F.explode(bigrams_expr("text")).alias("bg")
    ).select("doc_id", F.col("bg.subj").alias("subj"), F.col("bg.obj").alias("obj"))
    return (
        pairs.groupBy("doc_id", "subj", "obj")
        .agg(F.count(F.lit(1)).alias("weight"))
        .select("doc_id", "subj", F.lit("precedes").alias("pred"), "obj", "weight")
    )


def _edges(docs: DataFrame) -> DataFrame:
    """Linked, weight-aggregated edge table (the shared graph-family
    prefix): the corpus bigrams, linked against the corpus dictionary,
    through graph.build_edges — the operator KGPipeline commits edges
    with.

    - The ranked dictionary is resolved once and localCheckpoint'ed
      (vocabulary-scale), so the subj and obj links do not each repeat
      the dictionary's corpus scan.
    - Edge weight = Σ_docs count(doc, subj, obj) is the plain global
      occurrence count, so bigrams are linked map-side (broadcast) and
      grouped once, by build_edges on (src, pred, dst, is_literal): one
      corpus-scale exchange, with no doc_id in its rows. The dictionary
      comes from (doc, token)-distinct mentions, not from this stream,
      so DICT_MIN_DF semantics are untouched; per-doc triples stay with
      the gates that declare them (kg_triples_raw)."""
    ed = _entity_dict(docs)
    resolved = linker.resolve_labels(ed).localCheckpoint(eager=True)
    pairs = docs.select(F.explode(bigrams_expr("text")).alias("bg")).select(
        F.col("bg.subj").alias("subj"), F.col("bg.obj").alias("obj")
    )
    out = linker.link_labels(pairs, ed, "subj", "subj_id", resolved=resolved)
    out = linker.link_labels(out, ed, "obj", "obj_id", resolved=resolved)
    return graph.build_edges(
        out.select(
            "subj", "obj", "subj_id", "obj_id",
            F.lit("precedes").alias("pred"),
            F.lit(None).cast("string").alias("pred_id"),
            F.col("obj_id").isNull().alias("is_literal"),
        )
    )


# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB side)
# ---------------------------------------------------------------------------

TOK = "regexp_extract_all(lower(text), '[a-z0-9]+')"

SQL_MENTIONS = f"""
mentions AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest({TOK}) AS token FROM documents)
)"""

SQL_DICT = f"""
dict AS (
  SELECT token, 'Q' || upper(substr(md5(token), 1, 8)) AS entity_id
  FROM (SELECT token, count(DISTINCT doc_id) AS df FROM (
          SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest({TOK}) AS token FROM documents))
        GROUP BY token)
  WHERE df >= {DICT_MIN_DF}
)"""

SQL_TRIPLES = f"""
triples AS (
  SELECT doc_id, subj, 'precedes' AS pred, obj, CAST(count(*) AS BIGINT) AS weight
  FROM (
    SELECT doc_id,
           unnest(ws[1:len(ws)-1]) AS subj,
           unnest(ws[2:len(ws)])   AS obj
    FROM (SELECT doc_id, {TOK} AS ws FROM documents)
    WHERE len(ws) >= 2)
  GROUP BY doc_id, subj, obj
)"""

SQL_EDGES = f"""
{SQL_TRIPLES},
{SQL_DICT.lstrip()},
linked AS (
  SELECT coalesce(ds.entity_id, t.subj) AS src_id,
         'precedes' AS pred_id,
         coalesce(do_.entity_id, t.obj) AS dst_id,
         (do_.entity_id IS NULL) AS is_literal,
         t.weight
  FROM triples t
  LEFT JOIN dict ds ON t.subj = ds.token
  LEFT JOIN dict do_ ON t.obj = do_.token
),
edges AS (
  SELECT src_id, pred_id, dst_id, is_literal,
         CASE WHEN src_id LIKE 'Q%' THEN 'http://www.wikidata.org/entity/' || src_id
              ELSE 'http://example.org/entity/' || src_id END AS src_uri,
         'http://example.org/property/precedes' AS pred_uri,
         CASE WHEN is_literal THEN dst_id
              WHEN dst_id LIKE 'Q%' THEN 'http://www.wikidata.org/entity/' || dst_id
              ELSE 'http://example.org/entity/' || dst_id END AS dst_uri,
         CAST(sum(weight) AS BIGINT) AS weight
  FROM linked
  GROUP BY src_id, pred_id, dst_id, is_literal
)"""

SQL_SHINGLES = f"""
shingles AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, len(ws) - 1),
                                      i -> array_to_string(ws[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, source, {TOK} AS ws FROM documents)
  WHERE len(ws) >= 3
)"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# -- incremental-dedup prior-index cache ------------------------------------
#
# The incremental gates probe a SNAPSHOTTED prior index; in
# production the index is built once and appended to per delta, so the
# operating cost is the probe, not the build. Memoizing the
# checkpointed index per (kind, sf_dir, Spark application) lets
# bench.py time `warm_incremental_indexes` as its own entry and the
# gate calls as probe-only — the round-3 bench fused build+probe and
# overstated the operating cost ~6×. Keyed by applicationId so a
# checkpoint from a stopped SparkContext is never reused across test
# sessions; correctness is unaffected (the driver's fresh process
# builds on first call).

_INCR_INDEX_CACHE: dict = {}


def clear_incremental_index_cache() -> None:
    _INCR_INDEX_CACHE.clear()


def _incr_index(spark: SparkSession, sf_dir: str, kind: str, build):
    app_id = spark.sparkContext.applicationId
    # evict entries from stopped SparkContexts: a long-lived process
    # that cycles sessions would otherwise leak dead DataFrame refs
    # (each pins a checkpoint lineage) for every past application
    for k in [k for k in _INCR_INDEX_CACHE if k[2] != app_id]:
        del _INCR_INDEX_CACHE[k]
    key = (kind, sf_dir, app_id)
    if key not in _INCR_INDEX_CACHE:
        _INCR_INDEX_CACHE[key] = build()
    return _INCR_INDEX_CACHE[key]


def warm_incremental_indexes(spark: SparkSession, sf_dir: str) -> int:
    """Build (and cache) all four incremental prior indexes; returns
    the number built. bench.py times this as
    `dedup_incremental_index_build`."""
    built = 0
    for name in (
        "dedup_minhash_lsh_incremental",
        "dedup_ngram_jaccard_incremental",
        "dedup_embedding_neardup_incremental",
        "dedup_duplicate_spans_incremental",
    ):
        QUERIES[name](spark, sf_dir)  # builds + caches via _incr_index
        built += 1
    return built


# -- 1. chunker --------------------------------------------------------------

@_q(
    "kg_chunks",
    f"""
WITH RECURSIVE base AS (
  SELECT doc_id, {TOK} AS ws FROM documents
), words AS (
  SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws)+1)) AS idx
  FROM base WHERE len(ws) > 0
), state AS (
  SELECT doc_id, idx, word, 1 AS chunk_id, length(word) AS cur_len
  FROM words WHERE idx = 1
  UNION ALL
  SELECT w.doc_id, w.idx, w.word,
    CASE WHEN s.cur_len + length(w.word) + 1 <= {CHUNK_SIZE}
         THEN s.chunk_id ELSE s.chunk_id + 1 END,
    CASE WHEN s.cur_len + length(w.word) + 1 <= {CHUNK_SIZE}
         THEN s.cur_len + length(w.word) + 1 ELSE length(w.word) END
  FROM state s JOIN words w ON w.doc_id = s.doc_id AND w.idx = s.idx + 1
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       string_agg(word, ' ' ORDER BY idx) AS text
FROM state GROUP BY doc_id, chunk_id
""",
)
def kg_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy fold chunker (reference Extractor.py:72-93 semantics) in
    word-unit mode over the synthetic docs. Routed through
    chunk_documents, so the oracle hash-verifies the shipped chunker."""
    docs = _docs(spark, sf_dir)
    out = chunk_documents(
        docs, CHUNK_SIZE, unit="word", text_col="text", carry_cols=("doc_id",)
    )
    return out.select(
        "doc_id", F.col("chunk_id").cast("long").alias("chunk_id"), "text"
    )


# -- 1b. HTML cleaner (S2) -----------------------------------------------------

@_q(
    "kg_clean_html",
    f"""
WITH base AS (
  SELECT doc_id, {TOK} AS ws FROM documents
), parts AS (
  SELECT doc_id,
         array_to_string(ws[1:len(ws)//2], ' ') AS part1,
         array_to_string(ws[len(ws)//2+1:len(ws)], ' ') AS part2
  FROM base WHERE len(ws) >= 2
)
SELECT doc_id, part1 || ' ' || part2 || ' & more' AS cleaned
FROM parts
""",
)
def kg_clean_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end S2 check against known truth: wrap each doc's tokens
    in nasty HTML (citation sup inside the first <p>, a NESTED table
    carrying a decoy <p>, an entity in the second <p>, stray markup),
    run the cleaner, and compare with the directly-computed expected
    text. Exercises Extractor.py:52-70,127 semantics on 100% of docs."""
    from .operators.htmlclean import clean_html_udf

    docs = _docs(spark, sf_dir)
    ws = tokens_expr("text")
    base = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") >= 2)
    h = (F.size("ws") / 2).cast("int")
    parts = base.select(
        "doc_id",
        F.concat_ws(" ", F.slice("ws", F.lit(1), h)).alias("part1"),
        F.concat_ws(
            " ", F.slice("ws", h + 1, (F.size("ws") - h).cast("int"))
        ).alias("part2"),
    )
    html = F.concat(
        F.lit('<html><body><p>'),
        F.col("part1"),
        F.lit('<sup class="reference">['),
        F.col("doc_id").cast("string"),
        F.lit(']</sup></p><table><tr><td><p>noise '),
        F.col("doc_id").cast("string"),
        F.lit('</p></td></tr><table><tr><td>deep</td></tr></table></table><p>'),
        F.col("part2"),
        F.lit(' &amp; more</p><sup class="reference">stray</sup>'
              '<div>skipped</div></body></html>'),
    )
    return parts.select(
        "doc_id", clean_html_udf()(html).alias("cleaned")
    )


# -- 2. mention detection ------------------------------------------------------

@_q(
    "kg_mentions",
    f"WITH {SQL_MENTIONS.lstrip()} SELECT doc_id, token FROM mentions",
)
def kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mentions(_docs(spark, sf_dir))


# -- 3. raw triples ---------------------------------------------------------------

@_q(
    "kg_triples_raw",
    f"WITH {SQL_TRIPLES.lstrip()} SELECT doc_id, subj, pred, obj, weight FROM triples",
)
def kg_triples_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _triples_raw(_docs(spark, sf_dir))


# -- 4. response parse grammar ---------------------------------------------------

@_q(
    "kg_parse_triples",
    f"""
WITH lines AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN '1. (' || ws[1] || ', rel, ' || ws[2] || ')'
      WHEN 1 THEN '("' || ws[1] || '", "rel2", "' || ws[3] || '");'
      WHEN 2 THEN '(' || ws[1] || ', ' || ws[2] || ')'
      ELSE '12. ((' || ws[2] || ', rel3, ' || ws[3] || '))'
    END AS line
  FROM (SELECT doc_id, {TOK} AS ws FROM documents)
  WHERE len(ws) >= 3
), parsed AS (
  SELECT doc_id,
         string_split(
           regexp_replace(
             regexp_replace(
               regexp_replace(line, '^[0-9. ]+', ''),
               '^[()]+', ''),
             '[()]+$', ''),
           ', ') AS parts
  FROM lines
)
SELECT doc_id, trim(parts[1]) AS subj, trim(parts[2]) AS pred,
       trim(parts[3]) AS obj
FROM parsed WHERE len(parts) = 3
""",
)
def kg_parse_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the exact writer-side parse grammar
    (TripleGenerator.py:148-164) on deterministically synthesized
    response lines: numbered, quoted+semicolon, arity-2 (dropped), and
    double-paren variants."""
    docs = _docs(spark, sf_dir)
    toks = tokens_expr("text")
    t1, t2, t3 = (F.element_at(toks, i) for i in (1, 2, 3))
    m = F.pmod(F.col("doc_id"), F.lit(4))
    line = (
        F.when(m == 0, F.concat(F.lit("1. ("), t1, F.lit(", rel, "), t2, F.lit(")")))
        .when(m == 1, F.concat(F.lit('("'), t1, F.lit('", "rel2", "'), t3, F.lit('");')))
        .when(m == 2, F.concat(F.lit("("), t1, F.lit(", "), t2, F.lit(")")))
        .otherwise(F.concat(F.lit("12. (("), t2, F.lit(", rel3, "), t3, F.lit("))")))
    )
    resp = docs.where(F.size(toks) >= 3).select("doc_id", line.alias("response"))
    return parser.parse_responses(resp, carry_cols=("doc_id",))


# -- 5. entity linking ---------------------------------------------------------

@_q(
    "kg_link_entities",
    f"""
WITH {SQL_MENTIONS.lstrip()},
{SQL_DICT.lstrip()}
SELECT m.doc_id, m.token, d.entity_id,
       (d.entity_id IS NULL) AS is_literal
FROM mentions m LEFT JOIN dict d ON m.token = d.token
""",
)
def kg_link_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    linked = linker.link_labels(
        _mentions(docs), _entity_dict(docs), "token", "entity_id"
    )
    return linked.select(
        "doc_id", "token", "entity_id", F.col("entity_id").isNull().alias("is_literal")
    )


# -- 6. canonicalization (salted two-phase reduce) ------------------------------

@_q(
    "kg_canonicalize",
    f"""
SELECT token AS canonical_key,
       'E' || substr(md5(token), 1, 16) AS node_id,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (SELECT doc_id, unnest({TOK}) AS token FROM documents)
GROUP BY token
""",
)
def kg_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    occurrences = docs.select(
        "doc_id", F.explode(tokens_expr("text")).alias("label")
    )
    out = canonicalizer.salted_mention_counts(occurrences)
    return out.select(
        "canonical_key", "node_id",
        F.col("n_mentions").cast("long").alias("n_mentions"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


# -- 7. edges ----------------------------------------------------------------------

@_q(
    "kg_edges",
    f"WITH {SQL_EDGES.lstrip()} SELECT * FROM edges",
)
def kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _edges(_docs(spark, sf_dir))


@_q(
    "kg_viz_edges",
    f"""
WITH {SQL_EDGES.lstrip()},
uri AS (
  SELECT src_id, pred_id, dst_id, weight FROM edges WHERE NOT is_literal
),
deg AS (
  SELECT node_id, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT src_id AS node_id FROM uri
        UNION ALL SELECT dst_id FROM uri)
  GROUP BY node_id
)
SELECT u.src_id, u.pred_id, u.dst_id, u.weight,
       CAST(ds.deg + dd.deg AS BIGINT) AS deg_sum
FROM uri u
JOIN deg ds ON ds.node_id = u.src_id
JOIN deg dd ON dd.node_id = u.dst_id
ORDER BY deg_sum DESC, u.src_id, u.pred_id, u.dst_id
LIMIT 200
""",
)
def kg_viz_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visualization sink's draw selection (SURVEY §2.1 S12): URI→URI
    edges only, densest-neighborhood ranking, deterministic total
    order, bounded top-k — the DataFrame plan behind
    `viz.write_visualization` (the DOT/HTML writing itself is
    driver-side on these ≤max_edges rows). Hash-verifying the
    selection pins both the literal-exclusion parity with
    GraphManager.prepare_visualization and the cap's determinism."""
    return viz.viz_edges(_edges(_docs(spark, sf_dir)), max_edges=200)


# -- 8. adjacency ---------------------------------------------------------------

@_q(
    "kg_adjacency",
    f"""
WITH {SQL_EDGES.lstrip()}
SELECT src_id AS node_id,
       CAST(count(*) AS BIGINT) AS out_degree,
       string_agg(pred_id || ':' || dst_id, ';' ORDER BY pred_id || ':' || dst_id)
         AS neighbors
FROM edges GROUP BY src_id
""",
)
def kg_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # build_adjacency sorts (pred_id, dst_id) structs, the oracle sorts
    # pred_id || ':' || dst_id strings: the two orders agree only
    # because every gate edge has the same pred_id ('precedes')
    adj = graph.build_adjacency(_edges(_docs(spark, sf_dir)))
    return adj.select(
        "node_id",
        F.col("out_degree").cast("long").alias("out_degree"),
        F.concat_ws(
            ";",
            F.transform("out", lambda o: F.concat(o.pred_id, F.lit(":"), o.dst_id)),
        ).alias("neighbors"),
    )


# -- 9. graph statistics --------------------------------------------------------

@_q(
    "kg_graph_stats",
    f"""
WITH {SQL_EDGES.lstrip()}
SELECT CAST(count(*) AS BIGINT) AS total_triples,
       CAST(sum(weight) AS BIGINT) AS total_raw_triples,
       CAST(count(DISTINCT src_id) AS BIGINT) AS unique_subjects,
       CAST(count(DISTINCT pred_id) AS BIGINT) AS unique_predicates,
       CAST(count(DISTINCT dst_id) AS BIGINT) AS unique_objects
FROM edges
""",
)
def kg_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.graph_statistics(_edges(_docs(spark, sf_dir)))


# -- 10. P/R/F1 metrics ------------------------------------------------------------

@_q(
    "kg_metrics_strict",
    f"""
WITH {SQL_TRIPLES.lstrip()},
gen AS (SELECT DISTINCT subj, pred, obj FROM triples WHERE doc_id % 2 = 0),
gt  AS (SELECT DISTINCT subj, pred, obj FROM triples WHERE doc_id % 3 = 0),
c AS (
  SELECT
    (SELECT count(*) FROM gen JOIN gt USING (subj, pred, obj)) AS tp,
    (SELECT count(*) FROM gen ANTI JOIN gt USING (subj, pred, obj)) AS fp,
    (SELECT count(*) FROM gt ANTI JOIN gen USING (subj, pred, obj)) AS fn
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0e0 END AS precision,
       CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0e0 END AS recall,
       CASE WHEN tp = 0 THEN 0e0 ELSE
         2e0 * (CAST(tp AS DOUBLE) / (tp + fp)) * (CAST(tp AS DOUBLE) / (tp + fn))
         / ((CAST(tp AS DOUBLE) / (tp + fp)) + (CAST(tp AS DOUBLE) / (tp + fn)))
       END AS f1
FROM c
""",
)
def kg_metrics_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _triples_raw(_docs(spark, sf_dir))
    # one pass over the triples chain for BOTH eval sides (the gen/gt
    # filters would otherwise re-derive the doc→bigram→group chain
    # twice); same staging as kg_metrics_rougel_nostem
    flagged = (
        tr.where((F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 3 == 0))
        .select("doc_id", "subj", "pred", "obj")
        .localCheckpoint(eager=True)
    )
    gen = flagged.where(F.col("doc_id") % 2 == 0).select("subj", "pred", "obj")
    gt = flagged.where(F.col("doc_id") % 3 == 0).select("subj", "pred", "obj")
    return metrics.strict_metrics(gen, gt)


# -- 10b. relaxed containment metrics (J7) ---------------------------------------

_SQL_RAW_BIGRAMS = f"""
raw AS (
  SELECT doc_id, unnest(ws[1:len(ws)-1]) AS subj, 'precedes' AS pred,
         unnest(ws[2:len(ws)]) AS obj
  FROM (SELECT doc_id, {TOK} AS ws FROM documents)
  WHERE len(ws) >= 2
)"""

@_q(
    "kg_metrics_relaxed",
    f"""
WITH {_SQL_RAW_BIGRAMS.lstrip()},
gen AS (SELECT subj AS gsubj, pred AS gpred, obj AS gobj
        FROM raw WHERE doc_id % 5 = 0),
gt AS (SELECT obj AS subj, pred, subj AS obj FROM raw WHERE doc_id % 10 = 0),
c AS (
  SELECT
    (SELECT count(*) FROM gt WHERE EXISTS (
       SELECT 1 FROM gen WHERE
         (gt.subj = '' OR gt.subj IN (gsubj, gpred, gobj))
         AND (gt.pred = '' OR gt.pred IN (gsubj, gpred, gobj))
         AND (gt.obj = '' OR gt.obj IN (gsubj, gpred, gobj)))) AS tp,
    (SELECT count(*) FROM gt) AS total_gt,
    (SELECT count(*) FROM gen) AS total_gen
)
SELECT CAST(tp AS BIGINT) AS tp,
       CAST(total_gen - tp AS BIGINT) AS fp,
       CAST(total_gt - tp AS BIGINT) AS fn,
       CASE WHEN total_gen > 0 THEN CAST(tp AS DOUBLE) / total_gen ELSE 0e0 END
         AS precision,
       CASE WHEN total_gt > 0 THEN CAST(tp AS DOUBLE) / total_gt ELSE 0e0 END
         AS recall,
       CASE WHEN tp = 0 THEN 0e0 ELSE
         2e0 * (CAST(tp AS DOUBLE) / total_gen) * (CAST(tp AS DOUBLE) / total_gt)
         / ((CAST(tp AS DOUBLE) / total_gen) + (CAST(tp AS DOUBLE) / total_gt))
       END AS f1
FROM c
""",
)
def kg_metrics_relaxed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-verbatim relaxed match (tuple membership, duplicate-
    preserving counts) on raw bigram triples; the GT side has its
    subject/object swapped — position-independence finds them."""
    docs = _docs(spark, sf_dir)
    # one pass over the doc→bigram chain for BOTH eval sides (%10 docs
    # are a subset of %5 docs, so the flagged slice is just %5);
    # relaxed_metrics references each side several times
    pairs = (
        docs.where(F.col("doc_id") % 5 == 0)
        .select("doc_id", F.explode(bigrams_expr("text")).alias("bg"))
        .select(
            "doc_id",
            F.col("bg.subj").alias("subj"),
            F.lit("precedes").alias("pred"),
            F.col("bg.obj").alias("obj"),
        )
        .localCheckpoint(eager=True)
    )
    gen = pairs.select("subj", "pred", "obj")
    gt = pairs.where(F.col("doc_id") % 10 == 0).select(
        F.col("obj").alias("subj"), "pred", F.col("subj").alias("obj")
    )
    return metrics.relaxed_metrics(gen, gt)


@_q(
    "kg_metrics_rouge1",
    f"""
WITH {_SQL_RAW_BIGRAMS.lstrip()},
gen AS (SELECT DISTINCT subj, pred, obj FROM raw WHERE doc_id % 50 = 0),
gtd AS (SELECT DISTINCT subj, pred, obj FROM raw WHERE doc_id % 75 = 0),
g AS (
  SELECT md5(subj || chr(31) || pred || chr(31) || obj) AS gid, subj, pred, obj,
         regexp_extract_all(lower(subj || ' ' || pred || ' ' || obj),
                            '[a-z0-9]+') AS toks
  FROM gen
),
t AS (
  SELECT md5(subj || chr(31) || pred || chr(31) || obj) AS tid,
         regexp_extract_all(lower(subj || ' ' || pred || ' ' || obj),
                            '[a-z0-9]+') AS toks
  FROM gtd
),
gc AS (SELECT gid, gram, count(*) AS cg
       FROM (SELECT gid, unnest(toks) AS gram FROM g) GROUP BY gid, gram),
tc AS (SELECT tid, gram, count(*) AS ct
       FROM (SELECT tid, unnest(toks) AS gram FROM t) GROUP BY tid, gram),
ov AS (SELECT gid, tid, sum(least(cg, ct)) AS ov
       FROM gc JOIN tc USING (gram) GROUP BY gid, tid),
scored AS (
  SELECT ov.gid,
         2e0 * (CAST(ov AS DOUBLE) / gs.ng) * (CAST(ov AS DOUBLE) / ts.nt)
         / ((CAST(ov AS DOUBLE) / gs.ng) + (CAST(ov AS DOUBLE) / ts.nt)) AS f
  FROM ov
  JOIN (SELECT gid, len(toks) AS ng FROM g) gs USING (gid)
  JOIN (SELECT tid, len(toks) AS nt FROM t) ts USING (tid)
)
SELECT g.subj, g.pred, g.obj,
       coalesce(b.best_f, 0e0) AS best_rouge1_f
FROM g LEFT JOIN (SELECT gid, max(f) AS best_f FROM scored GROUP BY gid) b
  USING (gid)
""",
)
def kg_metrics_rouge1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 best-match per generated triple (A4): the one ROUGE
    scorer (metrics.rouge_best_match) asked for ROUGE-1 only, stemmer
    off, so it skips the bigram counts and the LCS. A generated triple
    with no tokens scores 0.0, as in the oracle."""
    tr = _triples_raw(_docs(spark, sf_dir))
    gen = tr.where(F.col("doc_id") % 50 == 0).select("subj", "pred", "obj")
    gt = tr.where(F.col("doc_id") % 75 == 0).select("subj", "pred", "obj")
    return metrics.rouge_best_match(gen, gt, use_stemmer=False, rouge_types=("rouge1",))


@_q("kg_metrics_rougel")  # rows-only: LCS DP is not ANSI-SQL-expressible
def kg_metrics_rougel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ROUGE-1/2/L best-match with Porter stemming (A4 complete —
    metrics_generator.py:163's RougeScorer(use_stemmer=True) metric
    set). One Python-UDF call per distinct generated triple scores it
    against the whole collected GT set (metrics.rouge_best_match);
    per-pair LCS has no native/SQL form, so the driver records the
    weaker rows-only check and tests/test_metrics.py checks the values
    bit-exactly against a brute-force all-pairs scorer."""
    tr = _triples_raw(_docs(spark, sf_dir))
    gen = tr.where(F.col("doc_id") % 50 == 0).select("subj", "pred", "obj")
    gt = tr.where(F.col("doc_id") % 75 == 0).select("subj", "pred", "obj")
    return metrics.rouge_best_match(gen, gt, use_stemmer=True)


@_q(
    "kg_metrics_rougel_nostem",
    f"""
WITH RECURSIVE {_SQL_RAW_BIGRAMS.lstrip()},
gen AS (SELECT DISTINCT subj, pred, obj FROM raw WHERE doc_id % 250 = 0),
gtd AS (SELECT DISTINCT subj, pred, obj FROM raw WHERE doc_id % 3750 = 0),
g AS (
  SELECT md5(subj || chr(31) || pred || chr(31) || obj) AS gid, subj, pred, obj,
         regexp_extract_all(lower(subj || ' ' || pred || ' ' || obj),
                            '[a-z0-9]+') AS a
  FROM gen
),
t AS (
  SELECT regexp_extract_all(lower(subj || ' ' || pred || ' ' || obj),
                            '[a-z0-9]+') AS b
  FROM gtd
),
-- LCS DP with the running-max row update (row_old monotone =>
-- row_new[j] = max(row_old[j], max_{{k<=j}} cand_k))
dp AS (
  SELECT gid, a, b, 0 AS i, list_transform(b, y -> 0) AS row
  FROM g CROSS JOIN t
  UNION ALL
  SELECT gid, a, b, i + 1,
    list_transform(row, (old_j, j) -> greatest(old_j, coalesce(list_max(
      (list_transform(b, (y, k) -> CASE WHEN y = a[i+1]
          THEN (CASE WHEN k = 1 THEN 0 ELSE row[k-1] END) + 1
          ELSE 0 END))[1:j]), 0)))
  FROM dp WHERE i < len(a)
),
lcs AS (
  SELECT gid, CAST(coalesce(row[len(b)], 0) AS DOUBLE) AS l,
         len(a) AS ng, len(b) AS nt
  FROM dp WHERE i = len(a)
),
f AS (
  SELECT gid, CASE WHEN l = 0 OR ng <= 0 OR nt <= 0 THEN 0e0
         ELSE 2 * (l / ng) * (l / nt) / ((l / ng) + (l / nt)) END AS f
  FROM lcs
)
SELECT g.subj, g.pred, g.obj, coalesce(bf.best_f, 0e0) AS best_rougeL_f
FROM g LEFT JOIN (SELECT gid, max(f) AS best_f FROM f GROUP BY gid) bf
  USING (gid)
""",
)
def kg_metrics_rougel_nostem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L best-match, stemmer-less (A4): the same Python scorer
    as `kg_metrics_rougel` (metrics.rouge_best_match, one UDF call per
    distinct generated triple) asked for ROUGE-L only (no bigram
    counts) with the stemmer off, so its LCS is
    verified bit-exactly against a recursive-CTE DP oracle — the
    hash-verified counterpart of the rows-only check on
    `kg_metrics_rougel`. Sampling shape matches the metric's real use:
    many generated triples (%250) against a SMALL ground-truth set
    (%3750 — a handful of docs): best-match ROUGE-L is intrinsically
    O(|gen|·|gt|) pair scoring (as in the reference, whose GT is
    hand-annotated and small), so |gt| is the lever that keeps the
    quadratic bounded."""
    tr = _triples_raw(_docs(spark, sf_dir))
    # one pass over the triples chain for BOTH eval sides (separate
    # gen/gt filters would re-derive the doc→bigram→group chain twice);
    # the checkpointed slice is eval-set sized, i.e. tiny
    flagged = (
        tr.where((F.col("doc_id") % 250 == 0) | (F.col("doc_id") % 3750 == 0))
        .select("doc_id", "subj", "pred", "obj")
        .localCheckpoint(eager=True)
    )
    gen = flagged.where(F.col("doc_id") % 250 == 0).select("subj", "pred", "obj")
    gt = flagged.where(F.col("doc_id") % 3750 == 0).select("subj", "pred", "obj")
    return metrics.rouge_best_match(gen, gt, use_stemmer=False, rouge_types=("rougeL",))


# -- 10c. cosine property top-k (J3/W1) with native hash embeddings -------------

def _SQL_HEMB(var: str) -> str:
    """SQL for functions.embeddings.hash_embedding_expr over a token
    list expression `var` (16 dims)."""
    comps = [
        f"list_sum(list_transform({var}, t -> ('0x' || substr(md5(t), "
        f"{2 * d + 1}, 2))::INT / 127.5e0 - 1e0)) / len({var})"
        for d in range(16)
    ]
    return "[" + ", ".join(comps) + "]"

_SQL_COS_AB = """
  list_sum(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]))
  / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
     * sqrt(list_sum(list_transform(b.emb, x -> x * x))))
"""

@_q(
    "kg_topk_properties",
    f"""
WITH toks AS (SELECT doc_id, {TOK} AS ws FROM documents),
preds AS (
  SELECT DISTINCT token AS pred FROM (
    SELECT unnest(ws) AS token FROM toks WHERE doc_id % 101 = 0)
),
dict AS (
  SELECT token, 'P' || upper(substr(md5(token), 1, 8)) AS prop_id
  FROM (SELECT token, count(DISTINCT doc_id) AS df FROM (
          SELECT DISTINCT doc_id, unnest(ws) AS token FROM toks)
        GROUP BY token)
  WHERE df >= {DICT_MIN_DF}
),
a AS (SELECT pred, {_SQL_HEMB("[pred]")} AS emb FROM preds),
b AS (SELECT token, prop_id, {_SQL_HEMB("[token]")} AS emb FROM dict),
scored AS (
  SELECT a.pred, b.prop_id, b.token AS label, {_SQL_COS_AB} AS similarity
  FROM a CROSS JOIN b
)
SELECT pred, prop_id, label, similarity, CAST(rank_pos AS BIGINT) AS rank_pos
FROM (
  SELECT pred, prop_id, label, similarity,
         row_number() OVER (PARTITION BY pred
                            ORDER BY similarity DESC, prop_id ASC) AS rank_pos
  FROM scored)
WHERE rank_pos <= 10
""",
)
def kg_topk_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.embeddings import hash_embedding_expr

    docs = _docs(spark, sf_dir)
    mentions = _mentions(docs)
    # plain count == distinct doc count here (see _entity_dict)
    dict_base = (
        mentions.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= DICT_MIN_DF)
    )
    property_dict = dict_base.select(
        F.concat(F.lit("P"), F.upper(F.substring(F.md5("token"), 1, 8))).alias(
            "prop_id"
        ),
        F.col("token").alias("label"),
        F.col("token").alias("alias"),
        F.lit(0).alias("rank"),
        hash_embedding_expr(F.col("token")).alias("embedding"),
    )
    preds = (
        docs.where(F.col("doc_id") % 101 == 0)
        .select(F.explode(F.array_distinct(tokens_expr("text"))).alias("pred"))
        .distinct()
        .withColumn("pred_embedding", hash_embedding_expr(F.col("pred")))
    )
    out = linker.topk_properties(preds, property_dict, k=10)
    return out.select(
        "pred", "prop_id", "label", "similarity",
        F.col("rank_pos").cast("long").alias("rank_pos"),
    )


# -- 11. exact dedup -------------------------------------------------------------

@_q(
    "dedup_exact",
    """
SELECT md5(text) AS content_md5,
       CAST(min(doc_id) AS BIGINT) AS survivor_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_docs(spark, sf_dir))


# -- 12. minhash LSH -------------------------------------------------------------

_MH_SQL_SIGS = """
hs AS (
  SELECT doc_id,
         list_transform(sh, x -> md5('0|' || x)) AS h0,
         list_transform(sh, x -> md5('1|' || x)) AS h1
  FROM shingles
),
sigs AS (
  SELECT doc_id,
    [list_aggregate(list_transform(h0, h -> substr(h, 1 + 8 * j, 8)), 'min')
     FOR j IN range(4)] ||
    [list_aggregate(list_transform(h1, h -> substr(h, 1 + 8 * j, 8)), 'min')
     FOR j IN range(4)] AS mh
  FROM hs
),
bands AS (
  SELECT doc_id, unnest(range(4)) AS band_id,
         unnest([mh[1]||'|'||mh[2], mh[3]||'|'||mh[4],
                 mh[5]||'|'||mh[6], mh[7]||'|'||mh[8]]) AS band_key
  FROM sigs
)"""

@_q(
    "dedup_minhash_lsh",
    f"""
WITH {SQL_SHINGLES.lstrip()},
{_MH_SQL_SIGS.lstrip()},
in_cap AS (
  -- mirrors the Spark twin's max_bucket_size=500: pairs only from
  -- buckets within the cap (docs can still pair via other bands)
  SELECT band_id, band_key FROM bands
  GROUP BY band_id, band_key HAVING count(*) <= 500
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
  JOIN in_cap ic
    ON ic.band_id = a.band_id AND ic.band_key = a.band_key
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         / len(list_distinct(sa.sh || sb.sh)) AS jaccard
FROM cand c
JOIN shingles sa ON sa.doc_id = c.id_a
JOIN shingles sb ON sb.doc_id = c.id_b
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(sa.sh || sb.sh)) >= 0.5e0
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), jaccard_threshold=0.5)


@_q(
    "dedup_minhash_lsh_incremental",
    f"""
WITH {SQL_SHINGLES.lstrip()},
{_MH_SQL_SIGS.lstrip()},
in_cap AS (
  -- mirrors the Spark twin's COMBINED-bucket cap (prior + delta
  -- members ≤ 500), closing the round-4 ADVICE divergence where the
  -- oracle joined bands uncapped while the twin inherited the default
  SELECT band_id, band_key FROM bands
  GROUP BY band_id, band_key HAVING count(*) <= 500
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
  JOIN in_cap ic
    ON ic.band_id = a.band_id AND ic.band_key = a.band_key
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         / len(list_distinct(sa.sh || sb.sh)) AS jaccard
FROM cand c
JOIN shingles sa ON sa.doc_id = c.id_a
JOIN shingles sb ON sb.doc_id = c.id_b
WHERE (c.id_a % 7 = 0 OR c.id_b % 7 = 0)
  AND CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(sa.sh || sb.sh)) >= 0.5e0
""",
)
def dedup_minhash_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta (doc_id % 7 = 0) probed against the prior corpus's
    snapshotted band/shingle index — must equal the full run's LSH
    pairs that touch the delta (what the oracle computes), so the
    incremental index path is hash-verified, not just pytest-asserted.
    The index is checkpointed once, the realistic shape (a snapshot
    read from disk, not recomputed per probe)."""
    docs = _docs(spark, sf_dir)
    delta = docs.where(F.col("doc_id") % 7 == 0)

    def _build():
        return dedup.minhash_index(docs.where(F.col("doc_id") % 7 != 0))

    prior_bands, prior_sh = _incr_index(spark, sf_dir, "minhash", _build)
    pairs, _, _ = dedup.minhash_lsh_pairs_incremental(
        delta, prior_bands, prior_sh, jaccard_threshold=0.5
    )
    return pairs


# -- 12c. duplicated token spans ---------------------------------------------------

# shared by the three span gates: detection, removal, incremental.
# cross-doc test without a doc-id set (total occurrences of the gram
# exceed the occurrences in THIS row's doc); hot boilerplate grams
# above the cap dropped, mirroring the Spark twin.
_SQL_SPANS = f"""
t AS (SELECT doc_id, {TOK} AS w FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+7], ' ')) AS gh
  FROM t, unnest(range(1, len(w) - 6)) AS u(i)
  WHERE len(w) >= 8
),
d AS (
  SELECT doc_id, pos FROM g
  QUALIFY count(*) OVER (PARTITION BY gh)
            > count(*) OVER (PARTITION BY gh, doc_id)
     AND count(*) OVER (PARTITION BY gh) <= 1000
),
flags AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
              THEN 0 ELSE 1 END AS new_island
  FROM d
),
islands AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flags
),
spans AS (
  SELECT doc_id,
         CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + 8 AS BIGINT) AS span_end,
         CAST(max(pos) + 8 - min(pos) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_grams
  FROM islands GROUP BY doc_id, island
)"""


@_q(
    "dedup_duplicate_spans",
    f"""
WITH {_SQL_SPANS.lstrip()}
SELECT doc_id, span_start, span_end, n_tokens, n_grams FROM spans
""",
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (Lee et al. 2022): maximal token spans
    whose 8-grams recur verbatim in another document — the spans a
    training pipeline cuts instead of dropping the whole doc."""
    return dedup.duplicate_spans(_docs(spark, sf_dir), k=8)


@_q(
    "dedup_duplicate_spans_incremental",
    f"""
WITH {_SQL_SPANS.lstrip()},
delta AS (SELECT doc_id FROM documents WHERE doc_id % 9 = 0),
dgrams AS (SELECT DISTINCT gh FROM g JOIN delta USING (doc_id)),
aff AS (
  SELECT DISTINCT g.doc_id FROM g JOIN dgrams USING (gh)
  UNION
  SELECT doc_id FROM delta
)
SELECT s.doc_id, s.span_start, s.span_end, s.n_tokens, s.n_grams
FROM spans s JOIN aff USING (doc_id)
""",
)
def dedup_duplicate_spans_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta (doc_id % 9 = 0) probed against the prior corpus's
    snapshotted gram-position index: must equal the full run's spans
    for every affected doc (delta docs + prior docs sharing a k-gram
    with the delta) — which is exactly what the oracle computes from
    the full corpus, so the affected-set argument is hash-verified,
    not just pytest-asserted."""
    docs = _docs(spark, sf_dir)
    delta = docs.where(F.col("doc_id") % 9 == 0)

    def _build():
        prior = docs.where(F.col("doc_id") % 9 != 0)
        return dedup.span_gram_index(prior, k=8).localCheckpoint(eager=True)

    idx = _incr_index(spark, sf_dir, "span_gram", _build)
    spans, _ = dedup.duplicate_spans_incremental(delta, idx, k=8)
    return spans


@_q(
    "dedup_span_removal",
    f"""
WITH {_SQL_SPANS.lstrip()},
toks AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS tok
  FROM t, unnest(range(1, len(w) + 1)) AS u(i)
),
covered AS (
  SELECT DISTINCT tk.doc_id, tk.pos
  FROM toks tk JOIN spans s
    ON s.doc_id = tk.doc_id
   AND tk.pos >= s.span_start AND tk.pos < s.span_end
),
kept AS (
  SELECT tk.doc_id, tk.pos, tk.tok
  FROM toks tk ANTI JOIN covered c
    ON c.doc_id = tk.doc_id AND c.pos = tk.pos
)
SELECT t.doc_id,
       coalesce(k.clean_text, '') AS clean_text,
       CAST(coalesce(k.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(len(t.w), 0) - coalesce(k.n_tokens, 0) AS BIGINT)
         AS n_tokens_removed
FROM t LEFT JOIN (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_tokens
  FROM kept GROUP BY doc_id
) k ON k.doc_id = t.doc_id
""",
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup, remediation half: the corpus with every
    cross-doc duplicated span cut from the normalized token stream."""
    docs = _docs(spark, sf_dir)
    return dedup.remove_spans(docs, dedup.duplicate_spans(docs, k=8))


# -- 13. simhash ---------------------------------------------------------------------

@_q(
    "dedup_simhash",
    f"""
WITH tok_counts AS (
  SELECT doc_id, tok, count(*) AS cnt
  FROM (SELECT doc_id, unnest({TOK}) AS tok FROM documents)
  GROUP BY doc_id, tok
), bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN substr(md5(tok), CAST(b AS INT) + 1, 1) >= '8'
                  THEN cnt ELSE -cnt END) AS s
  FROM tok_counts, range(16) t(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT)
         AS simhash
FROM bits GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash16(_docs(spark, sf_dir))


# -- 14. blocked n-gram jaccard ----------------------------------------------------

@_q(
    "dedup_ngram_jaccard",
    f"""
WITH {SQL_SHINGLES.lstrip()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(a.sh || b.sh)) AS jaccard
FROM shingles a JOIN shingles b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(a.sh || b.sh)) >= 0.3e0
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), block_col="source", threshold=0.3
    )


@_q(
    "dedup_ngram_jaccard_incremental",
    f"""
WITH {SQL_SHINGLES.lstrip()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(a.sh || b.sh)) AS jaccard
FROM shingles a JOIN shingles b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE (a.doc_id % 7 = 0 OR b.doc_id % 7 = 0)
  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(a.sh || b.sh)) >= 0.3e0
""",
)
def dedup_ngram_jaccard_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta (doc_id % 7 = 0) probed against the prior corpus's
    snapshotted posting-list index: must equal the full run's pairs
    that touch the delta — which is exactly what the oracle computes
    pairwise, so the incremental path's exactness argument (delta
    prefix × prior full postings) is hash-verified, not just
    pytest-asserted."""
    docs = _docs(spark, sf_dir)
    delta = docs.where(F.col("doc_id") % 7 == 0)

    def _build():
        # ngram_index checkpoints its tables once — the realistic shape
        # (a snapshot read from disk, not recomputed per probe)
        return dedup.ngram_index(docs.where(F.col("doc_id") % 7 != 0), "source")

    posting, shingles, dfreq = _incr_index(spark, sf_dir, "ngram", _build)
    pairs, _, _, _ = dedup.ngram_jaccard_pairs_incremental(
        delta, posting, shingles, dfreq, "source", threshold=0.3
    )
    return pairs


# -- 15. embedding cosine near-dup ------------------------------------------------

_SQL_COS = """
  list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""

@_q(
    "dedup_embedding_neardup",
    f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_SQL_COS} AS cos
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_SQL_COS} >= 0.35e0
""",
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_neardup_pairs(
        _embs(spark, sf_dir), block_col="label", threshold=0.35
    )


# -- 15b. embedding near-dup, hyperplane auto-blocking (no block column) --------

@_q(
    "dedup_embedding_neardup_lsh",
    f"""
WITH v AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bkt
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_SQL_COS} AS cos
FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE {_SQL_COS} >= 0.3e0
""",
)
def dedup_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guarded no-block-column path: blocking falls back to the
    deterministic hyperplane sign code instead of a corpus cross join."""
    return dedup.embedding_neardup_pairs(
        _embs(spark, sf_dir), block_col=None, threshold=0.3, auto_block_bits=4
    )


@_q(
    "dedup_embedding_neardup_incremental",
    f"""
WITH v AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bkt
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_SQL_COS} AS cos
FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE (a.vec_id % 7 = 0 OR b.vec_id % 7 = 0)
  AND {_SQL_COS} >= 0.3e0
""",
)
def dedup_embedding_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta vectors (vec_id % 7 = 0) probed against the prior
    corpus's snapshotted hyperplane-bucket index — equals the batch
    auto-blocked pairs touching the delta (what the oracle computes),
    completing the incremental trio (MinHash, n-gram, embedding)."""
    embs = _embs(spark, sf_dir)
    delta = embs.where(F.col("vec_id") % 7 == 0)

    def _build():
        prior = embs.where(F.col("vec_id") % 7 != 0)
        return dedup.embedding_index(prior, auto_block_bits=4).localCheckpoint(
            eager=True
        )

    idx = _incr_index(spark, sf_dir, "embedding", _build)
    pairs, _ = dedup.embedding_neardup_pairs_incremental(
        delta, idx, threshold=0.3, auto_block_bits=4
    )
    return pairs


# -- 16/17. ANN top-k --------------------------------------------------------------

_SQL_ANN_BASE = f"""
queries AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
            WHERE vec_id % 100 = 0)
"""

_SQL_COS_QC = """
  list_sum(list_transform(list_zip(q.q_emb, c.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""

@_q(
    "ann_topk_bruteforce",
    f"""
WITH {_SQL_ANN_BASE.lstrip()},
scored AS (
  SELECT q.q_id, c.vec_id, {_SQL_COS_QC} AS cos
  FROM queries q JOIN embeddings c ON q.q_id <> c.vec_id
)
SELECT q_id, vec_id, cos, CAST(rank_pos AS BIGINT) AS rank_pos FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC)
           AS rank_pos
  FROM scored)
WHERE rank_pos <= 10
""",
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = similarity.brute_force_topk(queries, embs, k=10)
    return out.withColumn("rank_pos", F.col("rank_pos").cast("long"))


@_q(
    "ann_topk_ivf",
    f"""
WITH {_SQL_ANN_BASE.lstrip()},
cb AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) AS bkt
  FROM embeddings
), qb AS (
  SELECT q_id, q_emb,
         (CASE WHEN q_emb[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN q_emb[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN q_emb[3] > 0 THEN 4 ELSE 0 END) AS bkt
  FROM queries
), scored AS (
  SELECT q.q_id, c.vec_id, {_SQL_COS_QC} AS cos
  FROM qb q JOIN cb c ON q.bkt = c.bkt AND q.q_id <> c.vec_id
)
SELECT q_id, vec_id, cos, CAST(rank_pos AS BIGINT) AS rank_pos FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC)
           AS rank_pos
  FROM scored)
WHERE rank_pos <= 10
""",
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = similarity.ivf_topk(queries, embs, k=10, bits=3)
    return out.withColumn("rank_pos", F.col("rank_pos").cast("long"))


# -- 18. language id ---------------------------------------------------------------

def _lang_sql_values() -> str:
    rows = []
    for lang in sorted(textstats.LANG_MARKERS):
        lst = ", ".join(f"'{m}'" for m in textstats.LANG_MARKERS[lang])
        rows.append(f"('{lang}', [{lst}])")
    return ", ".join(rows)


@_q(
    "text_language_id",
    f"""
WITH langs(lang, markers) AS (VALUES {_lang_sql_values()}),
scores AS (
  SELECT d.doc_id, l.lang,
         len(list_filter({TOK}, t -> list_contains(l.markers, t))) AS score
  FROM documents d CROSS JOIN langs l
), ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM scores
)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS predicted_lang,
       CAST(score AS BIGINT) AS marker_hits
FROM ranked WHERE rn = 1
""",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textstats.language_id(_docs(spark, sf_dir))
    return out.withColumn("marker_hits", F.col("marker_hits").cast("long"))


# -- 19. quality -------------------------------------------------------------------

@_q(
    "text_quality",
    f"""
WITH base AS (
  SELECT doc_id, text, {TOK} AS toks,
         length(text) AS n_chars,
         len({TOK}) AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         len(list_filter({TOK},
             t -> list_contains(['the','of','and','a','to','in','is'], t))) AS n_stop
  FROM documents
), ratios AS (
  SELECT doc_id, n_chars, n_tokens, n_punct,
    CASE WHEN n_tokens > 0
         THEN CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens ELSE 0e0 END
      AS distinct_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0e0 END
      AS stop_ratio,
    CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0e0 END
      AS punct_ratio
  FROM base
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_punct AS BIGINT) AS n_punct,
       distinct_ratio, stop_ratio,
       0.4e0 * least(n_chars / 500.0e0, 1.0e0) + 0.3e0 * distinct_ratio
         + 0.2e0 * (1 - punct_ratio) + 0.1e0 * least(stop_ratio * 5, 1.0e0)
         AS quality_score
FROM ratios
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(_docs(spark, sf_dir))


# -- 20. token counts ----------------------------------------------------------------

@_q(
    "text_token_counts",
    r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
         AS bpe_tokens
FROM documents
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_docs(spark, sf_dir))


# -- 21. fingerprints -----------------------------------------------------------------

@_q(
    "text_fingerprints",
    """
WITH grams AS (
  SELECT doc_id, pos, md5(substr(lower(text), CAST(pos AS INT) + 1, 8)) AS h
  FROM (SELECT doc_id, text, unnest(range(0, length(text) - 7)) AS pos
        FROM documents WHERE length(text) >= 8)
), per_win AS (
  SELECT doc_id, pos // 8 AS win, min(h) AS fp
  FROM grams GROUP BY doc_id, pos // 8
)
SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints,
       min(fp) AS min_fingerprint
FROM per_win GROUP BY doc_id
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textstats.fingerprints(_docs(spark, sf_dir))
    return out.withColumn("n_fingerprints", F.col("n_fingerprints").cast("long"))


# -- 22-25. event analytics (beyond-reference: windows/sessionization) ----------

@_q(
    "events_sessionize",
    """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), marked AS (
  SELECT user_id, event_id, us, cents,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sess AS (
  SELECT user_id, us, cents,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM marked
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       min(us) AS start_us, max(us) AS end_us,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM sess GROUP BY user_id, session_idx
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = events.sessionize(_events(spark, sf_dir))
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
        "start_us",
        "end_us",
        F.col("value_cents").cast("long").alias("value_cents"),
    )


@_q(
    "events_type_stats",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       min(event_id) AS first_event_id
FROM events GROUP BY event_type
""",
)
def events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = events.type_stats(_events(spark, sf_dir))
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("value_cents").cast("long").alias("value_cents"),
        "first_event_id",
    )


@_q(
    "events_json_props",
    """
SELECT k % 10 AS k_bucket, CAST(count(*) AS BIGINT) AS n,
       min(k) AS min_k, max(k) AS max_k
FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
WHERE k IS NOT NULL
GROUP BY k % 10
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = events.json_prop_stats(_events(spark, sf_dir))
    return out.select(
        "k_bucket", F.col("n").cast("long").alias("n"), "min_k", "max_k"
    )


@_q(
    "events_user_gaps",
    """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
FROM g GROUP BY user_id
""",
)
def events_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = events.user_gap_stats(_events(spark, sf_dir))
    return out.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        "min_gap_us",
        "max_gap_us",
    )


# -- 14. code-aware corpus operators (source-code input_hint shape) -----------
#
# The engine's north-rule input is a source-code table (repo, path,
# commit, lang, content). These gates synthesize deterministic
# code-shaped content from the documents table — identical string
# construction on both sides — and test the codestats operator family.

from .operators import codestats  # noqa: E402


def _code_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (doc_id, lang, content) code corpus derived from
    documents: license header, block/line comments, snake_case +
    camelCase identifiers, duplicated lines — every feature the code
    operators must handle, reproducible in SQL (see _SQL_CODE)."""
    d = _docs(spark, sf_dir)
    nl = F.lit("\n")
    ws = F.split(F.col("text"), " ")
    t1 = ws.getItem(0)
    # F.get is NULL past the end (getItem raises under ANSI mode), so a
    # one-word text falls back to 'val' as the oracle's coalesce does
    t2 = F.coalesce(F.get(ws, 1), F.lit("val"))
    cap2 = F.concat(F.upper(F.substring(t2, 1, 1)), F.substring(t2, 2, 1 << 20))
    m3 = F.col("doc_id") % 3
    lang = (
        F.when(m3 == 0, "python").when(m3 == 1, "c").otherwise("java")
    )
    m5 = F.col("doc_id") % 5
    lic = (
        F.when(m5 == 0, "Permission is hereby granted, free of charge to any person.\n")
        .when(m5 == 1, "Licensed under the Apache License, Version 2.0.\n")
        .when(m5 == 2, "This program is covered by the GNU General Public License.\n")
        .otherwise("")
    )
    cm = F.when(m3 == 0, "# ").otherwise("// ")
    block = F.when(m3 == 0, "").otherwise(
        F.concat(F.lit("/* helper block for "), t1, F.lit(" */\n"))
    )
    dup = F.when(
        F.col("doc_id") % 4 == 0, "    x = 1\n    x = 1\n"
    ).otherwise("")
    content = F.concat(
        lic, block,
        cm, F.lit("helper for "), F.substring("text", 1, 30), nl,
        F.lit("def "), t1, F.lit("_"), t2, F.lit("2x(arg):"), nl,
        F.lit("    "), t1, cap2, F.lit("Value = arg"), nl,
        dup, nl,
        F.lit("    return "), t1, cap2, F.lit("Value"), nl,
    )
    return d.select("doc_id", lang.alias("lang"), content.alias("content"))


_SQL_CODE = """code AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'python'
              WHEN doc_id % 3 = 1 THEN 'c' ELSE 'java' END AS lang,
         (CASE WHEN doc_id % 5 = 0 THEN 'Permission is hereby granted, free of charge to any person.' || chr(10)
               WHEN doc_id % 5 = 1 THEN 'Licensed under the Apache License, Version 2.0.' || chr(10)
               WHEN doc_id % 5 = 2 THEN 'This program is covered by the GNU General Public License.' || chr(10)
               ELSE '' END)
         || (CASE WHEN doc_id % 3 = 0 THEN ''
                  ELSE '/* helper block for ' || t1 || ' */' || chr(10) END)
         || cm || 'helper for ' || substr(text, 1, 30) || chr(10)
         || 'def ' || t1 || '_' || t2 || '2x(arg):' || chr(10)
         || '    ' || t1 || cap2 || 'Value = arg' || chr(10)
         || (CASE WHEN doc_id % 4 = 0
                  THEN '    x = 1' || chr(10) || '    x = 1' || chr(10)
                  ELSE '' END)
         || chr(10)
         || '    return ' || t1 || cap2 || 'Value' || chr(10) AS content
  FROM (
    SELECT doc_id, text, ws[1] AS t1,
           coalesce(ws[2], 'val') AS t2,
           upper(substr(coalesce(ws[2], 'val'), 1, 1))
             || substr(coalesce(ws[2], 'val'), 2) AS cap2,
           CASE WHEN doc_id % 3 = 0 THEN '# ' ELSE '// ' END AS cm
    FROM (SELECT doc_id, text, str_split(text, ' ') AS ws FROM documents)
  )
)"""

# comment stripping, SQL side (RE2 'g' flag; same regexes as the op)
_SQL_STRIP = r"""CASE WHEN lang = 'python'
      THEN regexp_replace(content, '#[^\n]*', '', 'g')
      ELSE regexp_replace(regexp_replace(content, '/\*[\s\S]*?\*/', '', 'g'),
                          '//[^\n]*', '', 'g') END"""


@_q(
    "code_strip_comments",
    f"""
WITH {_SQL_CODE}
SELECT doc_id, {_SQL_STRIP} AS content_nocomments FROM code
""",
)
def code_strip_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical comment removal per language family (codestats)."""
    code = _code_docs(spark, sf_dir)
    return codestats.strip_comments(code).select("doc_id", "content_nocomments")


@_q(
    "code_identifiers",
    rf"""
WITH {_SQL_CODE},
stripped AS (SELECT doc_id, {_SQL_STRIP} AS c FROM code),
idents AS (
  SELECT doc_id, unnest(regexp_extract_all(c, '([A-Za-z_][A-Za-z0-9_]*)', 1)) AS ident
  FROM stripped
),
splitc AS (
  SELECT doc_id, ident,
         list_filter(str_split(lower(
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(ident, '_', ' ', 'g'),
             '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g'),
             '([a-z0-9])([A-Z])', '\1 \2', 'g'),
             '([A-Za-z])([0-9])', '\1 \2', 'g'),
             '([0-9])([A-Za-z])', '\1 \2', 'g')), ' '),
           x -> x != '') AS subs
  FROM idents
)
SELECT DISTINCT doc_id, ident, subtoken
FROM (SELECT doc_id, ident, unnest(subs) AS subtoken FROM splitc)
""",
)
def code_identifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier extraction + snake/camel/acronym/digit sub-token
    split, distinct vocabulary rows."""
    code = _code_docs(spark, sf_dir)
    out = codestats.extract_identifiers(code)
    return out.select(
        "doc_id", "ident", F.explode("subtokens").alias("subtoken")
    ).distinct()


@_q(
    "code_license",
    f"""
WITH {_SQL_CODE}
SELECT license, CAST(count(*) AS BIGINT) AS n_files FROM (
  SELECT CASE
    WHEN contains(h, 'apache license') THEN 'Apache-2.0'
    WHEN contains(h, 'licensed under the apache') THEN 'Apache-2.0'
    WHEN contains(h, 'gnu general public license') THEN 'GPL'
    WHEN contains(h, 'gnu lesser general public license') THEN 'LGPL'
    WHEN contains(h, 'mozilla public license') THEN 'MPL-2.0'
    WHEN contains(h, 'mit license') THEN 'MIT'
    WHEN contains(h, 'permission is hereby granted, free of charge') THEN 'MIT'
    WHEN contains(h, 'redistribution and use in source and binary forms') THEN 'BSD'
    WHEN contains(h, 'creative commons') THEN 'CC'
    WHEN contains(h, 'unlicense') THEN 'Unlicense'
    ELSE 'unknown' END AS license
  FROM (SELECT lower(substr(content, 1, {codestats.LICENSE_HEAD_CHARS})) AS h FROM code)
) GROUP BY license
""",
)
def code_license(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License marker detection over file heads, per-license counts."""
    code = _code_docs(spark, sf_dir)
    return (
        codestats.detect_license(code)
        .groupBy("license")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files"))
    )


@_q(
    "code_line_stats",
    f"""
WITH {_SQL_CODE}
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(blank AS BIGINT) AS n_blank_lines,
       CAST(cmt AS BIGINT) AS n_comment_lines,
       CAST(blank AS DOUBLE) / n_lines AS blank_fraction,
       CAST(len(nonblank) - len(list_distinct(nonblank)) AS DOUBLE)
         / greatest(len(nonblank), 1) AS dup_line_fraction,
       CAST(total_len AS DOUBLE) / n_lines AS avg_line_len,
       CAST(greatest(list_aggregate(lens, 'max'), 0) AS BIGINT) AS max_line_len
FROM (
  SELECT doc_id, len(lines) AS n_lines,
         len(list_filter(trimmed, x -> x = '')) AS blank,
         len(list_filter(trimmed,
             x -> x != '' AND starts_with(x, pref))) AS cmt,
         list_filter(trimmed, x -> x != '') AS nonblank,
         list_transform(lines, x -> length(x)) AS lens,
         list_aggregate(list_transform(lines, x -> CAST(length(x) AS BIGINT)), 'sum') AS total_len
  FROM (
    SELECT doc_id, lines, list_transform(lines, x -> trim(x)) AS trimmed,
           CASE WHEN lang = 'python' THEN '#' ELSE '//' END AS pref
    FROM (SELECT doc_id, lang, str_split(content, chr(10)) AS lines FROM code)
  )
)
""",
)
def code_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file line metrics (counts, blank/dup fractions, lengths)."""
    code = _code_docs(spark, sf_dir)
    return codestats.code_line_stats(code)


@_q(
    "text_repetition",
    f"""
WITH toks AS (SELECT doc_id, {TOK} AS ws FROM documents),
g2 AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g, len(ws) - 1 AS total
  FROM toks, unnest(generate_series(1, len(ws) - 1)) AS s(i)
  WHERE len(ws) >= 2
),
c2 AS (
  SELECT doc_id, max(c) AS best, any_value(total) AS total
  FROM (SELECT doc_id, g, count(*) AS c, any_value(total) AS total
        FROM g2 GROUP BY doc_id, g)
  GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g,
         len(ws) - 2 AS total
  FROM toks, unnest(generate_series(1, len(ws) - 2)) AS s(i)
  WHERE len(ws) >= 3
),
c3 AS (
  SELECT doc_id, max(c) AS best, any_value(total) AS total
  FROM (SELECT doc_id, g, count(*) AS c, any_value(total) AS total
        FROM g3 GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(CAST(c2.best AS DOUBLE) / greatest(c2.total, 1), 0e0) AS top_bigram_fraction,
       coalesce(CAST(c3.best AS DOUBLE) / greatest(c3.total, 1), 0e0) AS top_trigram_fraction
FROM documents d LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style top-n-gram repetition fractions (map-only on the
    Spark side: sorted-array longest-run aggregate, no shuffle; the
    oracle takes the shuffle-based unnest/groupBy route — same
    values)."""
    return textstats.repetition_stats(_docs(spark, sf_dir))


_SQL_PII_DOCS = """pdocs AS (
  SELECT doc_id, text
    || (CASE WHEN doc_id % 3 = 0
        THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0
        THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 up'
        ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0
        THEN ' call +1 (555) 123-4567 now' ELSE '' END) AS text
  FROM documents
)"""


@_q(
    "pii_scrub",
    rf"""
WITH {_SQL_PII_DOCS},
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', 0)) AS BIGINT) AS n_email,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS t
  FROM pdocs
),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t, '\b[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\b', 0)) AS BIGINT) AS n_ip,
         regexp_replace(t, '\b[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\b', '<IP>', 'g') AS t
  FROM s1
),
s3 AS (
  SELECT doc_id, n_email, n_ip,
         CAST(len(regexp_extract_all(t, '\+[0-9][0-9 ()./-]{{6,18}}[0-9]', 0)) AS BIGINT) AS n_phone,
         regexp_replace(t, '\+[0-9][0-9 ()./-]{{6,18}}[0-9]', '<PHONE>', 'g') AS t
  FROM s2
)
SELECT doc_id, t AS text_scrubbed, n_email, n_ip, n_phone FROM s3
""",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with typed placeholders + per-kind audit counts
    over documents with deterministically injected emails/IPs/phone
    numbers."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ptext = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" server 10.0."), (did % 256).cast("string"),
                F.lit(".1 up"),
            ),
        ).otherwise(""),
        F.when(did % 11 == 0, " call +1 (555) 123-4567 now").otherwise(""),
    )
    return textstats.scrub_pii(d.select("doc_id", ptext.alias("text")))


# -- 15. composed corpus quality filter ---------------------------------------


@_q(
    "corpus_filter",
    f"""
WITH langs(lang, markers) AS (VALUES {{LANGVALS}}),
lscores AS (
  SELECT d.doc_id, l.lang,
         len(list_filter({TOK}, t -> list_contains(l.markers, t))) AS score
  FROM documents d CROSS JOIN langs l
), lranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM lscores
), plang AS (
  SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS predicted_lang
  FROM lranked WHERE rn = 1
), base AS (
  SELECT doc_id, text, {TOK} AS toks,
         length(text) AS n_chars,
         len({TOK}) AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         len(list_filter({TOK},
             t -> list_contains(['the','of','and','a','to','in','is'], t))) AS n_stop
  FROM documents
), quality AS (
  SELECT doc_id, n_tokens,
    0.4e0 * least(n_chars / 500.0e0, 1.0e0)
      + 0.3e0 * (CASE WHEN n_tokens > 0
                 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens ELSE 0e0 END)
      + 0.2e0 * (1 - (CASE WHEN n_chars > 0
                 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0e0 END))
      + 0.1e0 * least((CASE WHEN n_tokens > 0
                 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0e0 END) * 5, 1.0e0)
      AS quality_score
  FROM base
), g2 AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g, len(ws) - 1 AS total
  FROM (SELECT doc_id, {TOK} AS ws FROM documents),
       unnest(generate_series(1, len(ws) - 1)) AS s(i)
  WHERE len(ws) >= 2
), c2 AS (
  SELECT doc_id, max(c) AS best, any_value(total) AS total
  FROM (SELECT doc_id, g, count(*) AS c, any_value(total) AS total
        FROM g2 GROUP BY doc_id, g)
  GROUP BY doc_id
), joined AS (
  SELECT d.doc_id, p.predicted_lang,
         CAST(q.n_tokens AS BIGINT) AS n_tokens,
         q.quality_score,
         coalesce(CAST(c2.best AS DOUBLE) / greatest(c2.total, 1), 0e0)
           AS top_bigram_fraction
  FROM documents d
  JOIN plang p USING (doc_id)
  JOIN quality q USING (doc_id)
  LEFT JOIN c2 USING (doc_id)
), reasons AS (
  SELECT *,
    list_filter([
      CASE WHEN predicted_lang NOT IN ('en') THEN 'lang' END,
      CASE WHEN n_tokens < 5 THEN 'too_short' END,
      CASE WHEN quality_score < 0.5e0 THEN 'low_quality' END,
      CASE WHEN top_bigram_fraction > 0.5e0 THEN 'repetitive' END
    ], x -> x IS NOT NULL) AS rl
  FROM joined
)
SELECT doc_id, predicted_lang, n_tokens, quality_score, top_bigram_fraction,
       len(rl) = 0 AS keep,
       coalesce(array_to_string(rl, ','), '') AS drop_reasons
FROM reasons
""".replace("{LANGVALS}", _lang_sql_values()),
)
def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed keep/drop quality gate: language + quality + repetition
    evaluated in one shuffle-free projection with auditable reasons."""
    return textstats.corpus_filter(_docs(spark, sf_dir))


# -- 16. BERTScore-style token-matching metric (A5) -----------------------------


def _SQL_TEMB(var: str) -> str:
    """Single-token hash embedding (embeddings.token_embedding_expr):
    16 components, byte d of md5(token) scaled to [-1, 1]."""
    comps = [
        f"('0x' || substr(md5({var}), {2 * d + 1}, 2))::INT / 127.5e0 - 1e0"
        for d in range(16)
    ]
    return "[" + ", ".join(comps) + "]"


_SQL_BS_COS = """
  list_sum(list_transform(list_zip(e, o), p -> p[1] * p[2]))
  / (sqrt(list_sum(list_transform(e, x -> x * x)))
     * sqrt(list_sum(list_transform(o, x -> x * x))))
"""


@_q(
    "kg_metrics_bertscore",
    f"""
WITH {{RAW}},
pairs AS (
  SELECT DISTINCT r.doc_id, r.subj, r.pred, r.obj,
         substr(d.text, 1, 60) AS ref_text
  FROM raw r JOIN documents d USING (doc_id)
  WHERE r.doc_id % 50 = 0
),
tok AS (
  SELECT doc_id, subj, pred, obj,
         list_transform(
           regexp_extract_all(lower(subj || ' ' || pred || ' ' || obj), '[a-z0-9]+'),
           t -> {_SQL_TEMB("t")}) AS ce,
         list_transform(
           regexp_extract_all(lower(ref_text), '[a-z0-9]+'),
           t -> {_SQL_TEMB("t")}) AS re
  FROM pairs
),
scored AS (
  SELECT doc_id, subj, pred, obj,
    CASE WHEN len(re) > 0 AND len(ce) > 0 THEN
      list_sum(list_transform(ce, e -> list_max(list_transform(re, o -> {_SQL_BS_COS}))))
        / len(ce)
    ELSE 0e0 END AS bs_precision,
    CASE WHEN len(ce) > 0 AND len(re) > 0 THEN
      list_sum(list_transform(re, e -> list_max(list_transform(ce, o -> {_SQL_BS_COS}))))
        / len(re)
    ELSE 0e0 END AS bs_recall
  FROM tok
)
SELECT doc_id, subj, pred, obj, bs_precision, bs_recall,
       CASE WHEN bs_precision + bs_recall > 0
            THEN 2 * bs_precision * bs_recall / (bs_precision + bs_recall)
            ELSE 0e0 END AS bs_f1
FROM scored
""".replace("{RAW}", _SQL_RAW_BIGRAMS.lstrip()),
)
def kg_metrics_bertscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERTScore pipeline (A5) with the deterministic hash token
    encoder standing in for the contextual model (same pattern as the
    J3 property-similarity encoder): each generated triple scored
    against its document's leading text."""
    tr = _triples_raw(_docs(spark, sf_dir))
    docs = _docs(spark, sf_dir)
    pairs = (
        tr.where(F.col("doc_id") % 50 == 0)
        .select("doc_id", "subj", "pred", "obj")
        .distinct()
        .join(docs.select("doc_id", F.substring("text", 1, 60).alias("ref_text")), "doc_id")
        .withColumn(
            "cand_text", F.concat_ws(" ", "subj", "pred", "obj")
        )
    )
    # ~45 triples share each document's ref_text → the shared-ref
    # cosine dedup pays for its (small) shuffles here
    out = metrics.bertscore_pairs(
        pairs, "cand_text", "ref_text", dedup_shared_refs=True
    )
    return out.select(
        "doc_id", "subj", "pred", "obj", "bs_precision", "bs_recall", "bs_f1"
    )


# -- 17. duplicate clusters: connected components over pair output --------------


_SQL_SYNTH_PAIRS = """pairs AS (
  SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents WHERE doc_id % 10 < 3
  UNION ALL
  SELECT doc_id AS id_a, doc_id + 2 AS id_b FROM documents WHERE doc_id % 20 = 0
)"""


def _synth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pair graph with chains + shortcut edges — the
    shape dedup candidate output takes (same construction as
    _SQL_SYNTH_PAIRS)."""
    d = _docs(spark, sf_dir)
    a = d.where(F.col("doc_id") % 10 < 3).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    b = d.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 2).alias("id_b")
    )
    return a.unionAll(b)


@_q(
    "dedup_components",
    f"""
WITH RECURSIVE {_SQL_SYNTH_PAIRS},
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(v, r) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.v
)
SELECT v AS id, min(r) AS component FROM reach GROUP BY v
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise dedup output → duplicate clusters (min-label
    propagation to fixpoint); oracle is the recursive-CTE transitive
    closure."""
    return dedup.connected_components(_synth_pairs(spark, sf_dir))


# -- 18. k-hop neighborhood expansion over the KG edges -------------------------


@_q(
    "kg_khop",
    f"""
WITH RECURSIVE {{EDGES}},
seeds AS (SELECT DISTINCT src_id FROM edges WHERE src_id LIKE 'a%'),
hops(v, h) AS (
  SELECT src_id, 0 FROM seeds
  UNION
  SELECT e.dst_id, hops.h + 1
  FROM hops JOIN edges e ON e.src_id = hops.v AND NOT e.is_literal
  WHERE hops.h < 2
)
SELECT v AS node_id, CAST(min(h) AS INTEGER) AS hops FROM hops GROUP BY v
""".replace("{EDGES}", SQL_EDGES.lstrip()),
)
def kg_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood of the 'a*' seed entities over the KG edge
    list (literal objects are terminal — they never expand)."""
    # checkpoint the built edge list once: the BFS reads it every hop
    # and the seeds derivation a third time — without this the full
    # chunk->link->edges chain re-executes per reference
    edges = _edges(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    seeds = edges.where(F.col("src_id").startswith("a")).select("src_id")
    return graph.k_hop_neighbors(
        edges.where(~F.col("is_literal")), seeds.withColumnRenamed("src_id", "node_id"), 2
    )


# -- 19. triangle counting over the KG edges -------------------------------------


@_q(
    "kg_triangles",
    """
WITH {EDGES},
e0 AS (
  SELECT DISTINCT least(src_id, dst_id) AS u, greatest(src_id, dst_id) AS v
  FROM edges WHERE NOT is_literal AND src_id <> dst_id
),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) GROUP BY n
),
o AS (
  SELECT CASE WHEN (da.d, u) < (db.d, v) THEN u ELSE v END AS s,
         CASE WHEN (da.d, u) < (db.d, v) THEN v ELSE u END AS t,
         CASE WHEN (da.d, u) < (db.d, v) THEN db.d ELSE da.d END AS dt
  FROM e0 JOIN deg da ON da.n = u JOIN deg db ON db.n = v
),
wg AS (
  SELECT e1.s, e1.t AS a, e2.t AS b
  FROM o e1 JOIN o e2 ON e1.s = e2.s
  WHERE (e1.dt, e1.t) < (e2.dt, e2.t)
),
tri AS (SELECT wg.s, wg.a, wg.b FROM wg JOIN o ON o.s = wg.a AND o.t = wg.b)
SELECT node_id, CAST(count(*) AS BIGINT) AS triangles
FROM (SELECT s AS node_id FROM tri
      UNION ALL SELECT a FROM tri
      UNION ALL SELECT b FROM tri)
GROUP BY node_id
""".replace("{EDGES}", SQL_EDGES.lstrip()),
)
def kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the (undirected, simple) KG
    entity graph — degree-ordered wedge enumeration, each triangle
    counted once at its (degree, id)-smallest vertex."""
    edges = _edges(_docs(spark, sf_dir)).where(~F.col("is_literal"))
    return graph.triangle_counts(edges)


# -- 20. deterministic corpus splitting / sampling -------------------------------

# mirror of sampling.assign_splits' cut-point arithmetic (same float
# accumulation order) so the SQL literals are bit-identical to the
# operator's — any drift and the gate catches it
_SPLIT_WEIGHTS = (("train", 0.9), ("val", 0.05), ("test", 0.05))


def _split_cuts() -> list[tuple[str, int]]:
    total = float(sum(w for _, w in _SPLIT_WEIGHTS))
    cuts, acc = [], 0.0
    for name, w in _SPLIT_WEIGHTS[:-1]:
        acc += w / total
        cuts.append((name, int(acc * (1 << 32))))
    return cuts


@_q(
    "corpus_split",
    f"""
SELECT doc_id,
       CASE WHEN b < {_split_cuts()[0][1]} THEN 'train'
            WHEN b < {_split_cuts()[1][1]} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
      FROM documents)
""",
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split assignment (growth-stable: a doc never
    migrates when other docs are added) — map-only, no shuffle."""
    docs = _docs(spark, sf_dir)
    return sampling.assign_splits(
        docs, dict(_SPLIT_WEIGHTS)
    ).select("doc_id", "split")


@_q(
    "corpus_sample",
    f"""
SELECT doc_id, source
FROM (SELECT doc_id, source,
             CAST(('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
      FROM documents)
WHERE b < {int(0.25 * (1 << 32))}
""",
)
def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (salt, id)-keyed Bernoulli sample at 25% — re-runs
    on a grown corpus keep every previously sampled row."""
    docs = _docs(spark, sf_dir)
    return sampling.hash_sample(docs, 0.25).select("doc_id", "source")


# -- 21. benchmark decontamination (n-gram overlap vs probe set) -----------------


@_q(
    "text_contamination",
    f"""
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(ws) - 1),
                                      i -> array_to_string(ws[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, {TOK} AS ws FROM documents)
  WHERE len(ws) >= 3
),
pg AS (
  SELECT DISTINCT md5(g) AS gh
  FROM (SELECT unnest(sh) AS g FROM grams WHERE doc_id % 97 = 0)
),
dg AS (
  SELECT doc_id, md5(g) AS gh
  FROM (SELECT doc_id, unnest(sh) AS g FROM grams)
),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
  FROM dg JOIN pg USING (gh) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated_grams,
       coalesce(hits.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
""",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style eval-set overlap check: flag documents sharing any
    word 3-gram (13 in production) with the probe subset (doc_id%97);
    broadcast md5'd probe grams, map+broadcast-join corpus side."""
    docs = _docs(spark, sf_dir)
    probes = docs.where(F.col("doc_id") % 97 == 0)
    return contamination.contamination_flags(docs, probes, n=3)


# -- 22. k-means IVF ANN (trained coarse quantizer) -------------------------------

def _SQL_KM_ASSIGN(src: str, cent: str, out: str) -> str:
    """One Lloyd assignment round: nearest centroid by integer sqdist,
    ties to the smaller cid."""
    return f"""{out} AS (
  SELECT vec_id, qe, cid FROM (
    SELECT s.vec_id, s.qe, c.cid,
           row_number() OVER (PARTITION BY s.vec_id ORDER BY
             list_sum(list_transform(list_zip(s.qe, c.cvec),
                                     p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
    FROM {src} s CROSS JOIN {cent} c) WHERE rn = 1
)"""


def _SQL_KM_UPDATE(assign: str, prev: str, out: str) -> str:
    """One Lloyd update round: exact integer mean (floor) per
    coordinate; empty clusters keep their previous centroid."""
    return f"""{out}_u AS (
  SELECT cid, list(val ORDER BY i) AS cvec FROM (
    SELECT cid, i, CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS val
    FROM (SELECT cid, unnest(qe) AS v, unnest(range(1, len(qe)+1)) AS i
          FROM {assign})
    GROUP BY cid, i) GROUP BY cid
),
{out} AS (
  SELECT p.cid, coalesce(u.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN {out}_u u USING (cid)
)"""


@_q(
    "ann_topk_ivf_kmeans",
    f"""
WITH q0 AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
  FROM embeddings
),
init AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cid, qe AS cvec
  FROM (SELECT vec_id, qe FROM q0 ORDER BY vec_id LIMIT 4)
),
{_SQL_KM_ASSIGN("q0", "init", "a1")},
{_SQL_KM_UPDATE("a1", "init", "c1")},
{_SQL_KM_ASSIGN("q0", "c1", "a2")},
{_SQL_KM_UPDATE("a2", "c1", "c2")},
{_SQL_KM_ASSIGN("q0", "c2", "fa")},
cb AS (SELECT q0.vec_id, q0.embedding, fa.cid FROM q0 JOIN fa USING (vec_id)),
qb AS (SELECT vec_id AS q_id, embedding AS q_emb, cid FROM cb WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.q_id, c.vec_id, {_SQL_COS_QC} AS cos
  FROM qb q JOIN cb c ON q.cid = c.cid AND q.q_id <> c.vec_id
)
SELECT q_id, vec_id, cos, CAST(rank_pos AS BIGINT) AS rank_pos FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC)
           AS rank_pos
  FROM scored)
WHERE rank_pos <= 10
""",
)
def ann_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: 2 Lloyd iterations of
    fixed-point k-means (integer sums → order-independent → the
    trained centroids are bit-identical in Spark and the SQL oracle),
    then per-cell probing identical to ann_topk_ivf."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = similarity.ivf_kmeans_topk(
        queries, embs, k=10, n_clusters=4, iterations=2
    )
    return out.withColumn("rank_pos", F.col("rank_pos").cast("long"))


# -- 23. BPE tokenizer: distributed merge learning + application -----------------

from .operators import bpe  # noqa: E402

_BPE_ROUNDS = 12


def _SQL_BPE(rounds: int) -> str:
    """Unrolled Lloyd-style learning loop: round r = one MATERIALIZED
    pair-count argmax CTE (b{r}) + one vocabulary rewrite CTE (v{r}).
    chr(1) is the no-op pattern once no pair occurs twice (it can never
    appear in [a-z0-9 ] symbol strings), mirroring learn_bpe's early
    stop."""
    parts = [
        f"""v0 AS MATERIALIZED (
  SELECT w, rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms, cnt FROM (
    SELECT w, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest({TOK}) AS w FROM documents) GROUP BY w)
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""b{r} AS MATERIALIZED (
  SELECT coalesce((SELECT pair FROM (
    SELECT a || ' ' || b AS pair, sum(cnt) AS c
    FROM (SELECT unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b, cnt
          FROM (SELECT string_split(syms, ' ') AS ws, cnt FROM v{r - 1})
          WHERE len(ws) >= 2)
    GROUP BY a, b HAVING sum(cnt) >= 2
    ORDER BY c DESC, pair ASC LIMIT 1)), chr(1)) AS pat
),
p{r} AS MATERIALIZED (
  -- split the winning pair once; pm is the fused symbol
  SELECT pat, string_split(pat, ' ')[1] AS pa,
         CASE WHEN len(string_split(pat, ' ')) > 1
              THEN string_split(pat, ' ')[2] ELSE chr(1) END AS pb,
         replace(pat, ' ', '') AS pm
  FROM b{r}
),
v{r} AS MATERIALIZED (
  -- boundary-safe greedy merge: fold over the TOKENS, fusing current
  -- token pb into a trailing token pa — a substring replace would
  -- corrupt across boundaries ('xa b' contains 'a b'). Identical fold
  -- to operators.bpe.apply_merge_expr on the Spark side.
  SELECT w,
         CASE WHEN pat = chr(1) THEN syms ELSE
           ltrim(list_reduce(
             list_prepend('', string_split(syms, ' ')),
             (acc, t) -> CASE
               WHEN t = pb AND ends_with(acc, ' ' || pa)
               THEN substr(acc, 1, len(acc) - len(pa) - 1) || ' ' || pm
               ELSE acc || ' ' || t END))
         END AS syms,
         cnt
  FROM v{r - 1}, p{r}
)"""
        )
    return ",\n".join(parts)


@_q(
    "text_bpe_tokens",
    f"""
WITH {_SQL_BPE(_BPE_ROUNDS)}
SELECT d.doc_id,
       CAST(sum(len(string_split(v.syms, ' '))) AS BIGINT) AS n_bpe_tokens,
       CAST(count(*) AS BIGINT) AS n_words
FROM (SELECT doc_id, unnest({TOK}) AS w FROM documents) d
JOIN v{_BPE_ROUNDS} v USING (w)
GROUP BY d.doc_id
""",
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-accurate per-document token counts: learn {_BPE_ROUNDS}
    merges on the corpus word vocabulary (one corpus scan; every
    learning round aggregates the vocabulary only), then broadcast-join
    the encoded vocabulary back onto the corpus tokens. The oracle
    unrolls the full learning loop in SQL, so the learned merges — not
    just the application — are verified bit-exactly."""
    docs = _docs(spark, sf_dir)
    _, vocab = bpe.learn_bpe(docs, num_merges=_BPE_ROUNDS)
    return bpe.bpe_token_stats(docs, vocab)


# -- 24. PageRank (fixed-point) over the KG entity graph -------------------------

_PR_ITERS = 3
_PR_SCALE = 10**12
_PR_D = 85


def _SQL_PR(rounds: int, dangling: bool = False) -> str:
    """Unrolled fixed-point PageRank rounds: r{i} from r{i-1} via one
    contribution join + incoming sum; all arithmetic int64 (// is
    integer division on BIGINTs, same truncation as Spark's DIV for
    the non-negative ranks here). With `dangling`, each round also
    computes the mass parked on out-degree-0 nodes and shares it
    equally (dm{i}.share = dangling_mass DIV N), the standard PageRank
    formulation — mirrored by pagerank(redistribute_dangling=True)."""
    base = (100 - _PR_D) * _PR_SCALE
    parts = [
        f"""e AS MATERIALIZED (
  SELECT DISTINCT src_id AS src, dst_id AS dst FROM edges
  WHERE NOT is_literal AND src_id <> dst_id
),
pr_nodes AS MATERIALIZED (
  SELECT DISTINCT node_id FROM (
    SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e)
),
odeg AS MATERIALIZED (SELECT src, count(*) AS odeg FROM e GROUP BY src),
r0 AS MATERIALIZED (
  SELECT node_id, CAST({_PR_SCALE} AS BIGINT) AS rank_int FROM pr_nodes
)"""
    ]
    if dangling:
        parts.append(
            """dang AS MATERIALIZED (
  SELECT node_id FROM pr_nodes EXCEPT SELECT src FROM odeg
),
nn AS MATERIALIZED (SELECT count(*) AS n FROM pr_nodes)"""
        )
    for i in range(1, rounds + 1):
        share = "CAST(0 AS BIGINT)"
        if dangling:
            parts.append(
                f"""dm{i} AS MATERIALIZED (
  SELECT CAST(coalesce(sum(r.rank_int), 0) // (SELECT n FROM nn) AS BIGINT)
           AS share
  FROM r{i - 1} r JOIN dang USING (node_id)
)"""
            )
            share = f"(SELECT share FROM dm{i})"
        parts.append(
            f"""inc{i} AS MATERIALIZED (
  SELECT e.dst AS node_id, sum(r.rank_int // o.odeg) AS s
  FROM e JOIN r{i - 1} r ON e.src = r.node_id JOIN odeg o ON e.src = o.src
  GROUP BY e.dst
),
r{i} AS MATERIALIZED (
  SELECT n.node_id,
         (CAST({base} AS BIGINT)
          + {_PR_D} * (coalesce(inc{i}.s, CAST(0 AS BIGINT))
                       + {share})) // 100 AS rank_int
  FROM pr_nodes n LEFT JOIN inc{i} USING (node_id)
)"""
        )
    return ",\n".join(parts)


@_q(
    "kg_pagerank",
    f"""
WITH {SQL_EDGES.lstrip()},
{_SQL_PR(_PR_ITERS)}
SELECT node_id, CAST(rank_int AS BIGINT) AS rank_int,
       CAST(rank_int AS DOUBLE) / {float(_PR_SCALE)} AS rank
FROM r{_PR_ITERS}
""",
)
def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank ({_PR_ITERS} rounds) over the KG entity
    graph — integer contributions make every rank bit-identical across
    engines (no float-sum ordering sensitivity); oracle unrolls the
    rounds."""
    edges = _edges(_docs(spark, sf_dir)).where(~F.col("is_literal"))
    return graph.pagerank(edges, iterations=_PR_ITERS)


@_q(
    "kg_pagerank_dangling",
    f"""
WITH {SQL_EDGES.lstrip()},
{_SQL_PR(_PR_ITERS, dangling=True)}
SELECT node_id, CAST(rank_int AS BIGINT) AS rank_int,
       CAST(rank_int AS DOUBLE) / {float(_PR_SCALE)} AS rank
FROM r{_PR_ITERS}
""",
)
def kg_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard-formulation PageRank: per round the mass on
    out-degree-0 nodes is redistributed equally (integer share DIV N)
    instead of dropped — closes the documented semantic divergence of
    kg_pagerank while staying bit-exact cross-engine."""
    edges = _edges(_docs(spark, sf_dir)).where(~F.col("is_literal"))
    return graph.pagerank(
        edges, iterations=_PR_ITERS, redistribute_dangling=True
    )


# -- 25. exact per-group percentiles ---------------------------------------------


@_q(
    "text_length_percentiles",
    """
WITH ranked AS (
  SELECT source, n_chars AS v,
         row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
       min(CASE WHEN rn >= ceil(0.5e0 * n) THEN v END) AS p50,
       min(CASE WHEN rn >= ceil(0.9e0 * n) THEN v END) AS p90,
       min(CASE WHEN rn >= ceil(0.99e0 * n) THEN v END) AS p99,
       CAST(max(n) AS BIGINT) AS n_rows
FROM ranked GROUP BY source
""",
)
def text_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 document length per source — explicit
    rank-based percentile_disc (engine-agnostic tie/interpolation
    semantics; built-in quantile functions differ across engines)."""
    docs = _docs(spark, sf_dir)
    return textstats.group_percentiles(docs, "n_chars", "source")


# -- 26. ordered funnel conversion over events ------------------------------------


@_q(
    "events_funnel",
    """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id
)
SELECT 1 AS stage_idx, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
UNION ALL
SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase ordered funnel (earliest-match,
    strictly-after semantics) by events.funnel_stages' single-pass
    fold: one event-table scan and one user-key shuffle. The oracle is
    the staged CTE chain (one min-aggregation + user-key join per
    stage), so the fold is hash-verified against the join form."""
    return events.funnel_stages(
        _events(spark, sf_dir), ("view", "click", "purchase")
    )


@_q(
    "events_funnel_deep",
    """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY e.user_id
),
s5 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s4 USING (user_id)
  WHERE e.event_type = 'error' AND e.ts > s4.t GROUP BY e.user_id
)
SELECT 1 AS stage_idx, 'signup' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
UNION ALL SELECT 2, 'view', CAST(count(*) AS BIGINT) FROM s2
UNION ALL SELECT 3, 'click', CAST(count(*) AS BIGINT) FROM s3
UNION ALL SELECT 4, 'purchase', CAST(count(*) AS BIGINT) FROM s4
UNION ALL SELECT 5, 'error', CAST(count(*) AS BIGINT) FROM s5
""",
)
def events_funnel_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-stage funnel by the same single-pass fold as `events_funnel`:
    still one event-table scan + one user-key shuffle, where a staged
    join chain would add a scan and a join per stage. Oracle is the
    staged CTE chain, so the carry fold is hash-verified against the
    join form's semantics."""
    return events.funnel_stages(
        _events(spark, sf_dir),
        ("signup", "view", "click", "purchase", "error"),
    )


# -- 27. quality-weighted sampling / domain mixing / sequence packing ------------

from .operators import packing  # noqa: E402


@_q(
    "corpus_weighted_sample",
    f"""
WITH scored AS (
  SELECT doc_id, source,
         least(greatest(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 60, 0e0), 1e0) AS rate
  FROM documents
)
SELECT doc_id, source
FROM scored
WHERE CAST(('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      < CAST(floor(rate * {float(1 << 32)}) AS BIGINT)
      -- floor, not bare CAST: DuckDB rounds double→BIGINT, Spark truncates
""",
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional deterministic sampling: keep probability =
    token_count/60 clamped to [0,1] — longer docs kept more often, the
    CCNet-style curation step, map-only and growth-stable."""
    docs = _docs(spark, sf_dir)
    rate = F.least(
        F.greatest(
            F.size(tokens_expr("text")).cast("double") / F.lit(60), F.lit(0.0)
        ),
        F.lit(1.0),
    )
    return sampling.weighted_hash_sample(docs, rate).select("doc_id", "source")


@_q(
    "corpus_pack_sequences",
    """
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
         CAST(doc_id % 32 AS INTEGER) AS bucket
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens, bucket,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM base
)
SELECT doc_id, n_tokens, bucket,
       CAST((c - n_tokens) // 512 AS BIGINT) AS pack_id,
       CAST((c - n_tokens) % 512 AS BIGINT) AS start_in_pack
FROM cum
""",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk training-sequence packing (seq_len=512,
    32 deterministic streams): integer running sums per bucket, so
    pack assignment is bit-reproducible and per-bucket parallel."""
    return packing.pack_sequences(
        _docs(spark, sf_dir), seq_len=512, n_buckets=32
    )


_MIX_WEIGHTS = (("src0", 0.5), ("src1", 0.3), ("src2", 0.2))
_MIX_TOTAL = float(sum(w for _, w in _MIX_WEIGHTS))


@_q(
    "corpus_mix",
    f"""
WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
tgt(source, w) AS (VALUES {", ".join(f"('{g}', {w!r})" for g, w in _MIX_WEIGHTS)}),
ratio AS (
  SELECT n.source, (tgt.w / {_MIX_TOTAL!r}) / n.n AS r
  FROM n JOIN tgt USING (source)
),
rate AS (SELECT source, r / (SELECT max(r) FROM ratio) AS rate FROM ratio)
SELECT d.doc_id, d.source
FROM documents d JOIN rate USING (source)
WHERE CAST(('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      < CAST(floor(least(greatest(rate, 0e0), 1e0) * {float(1 << 32)}) AS BIGINT)
""",
)
def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing toward target weights (src0:src1:src2 = 5:3:2,
    other sources dropped): the binding group keeps rate 1.0, others
    thin deterministically — two jobs (tiny count agg + map-only
    filter), corpus never shuffles."""
    docs = _docs(spark, sf_dir)
    return sampling.mix_corpus(docs, dict(_MIX_WEIGHTS)).select(
        "doc_id", "source"
    )


# -- 28. boilerplate line removal over the code corpus ---------------------------


@_q(
    "code_strip_boilerplate",
    f"""
WITH {_SQL_CODE},
lines AS (
  SELECT doc_id, i - 1 AS pos, ln, md5(ln) AS lh
  FROM (SELECT doc_id, unnest(ls) AS ln, unnest(range(1, len(ls) + 1)) AS i
        FROM (SELECT doc_id, string_split(content, chr(10)) AS ls FROM code))
),
freq AS (
  SELECT lh FROM lines GROUP BY lh HAVING count(DISTINCT doc_id) >= 5
),
kept AS (
  SELECT l.doc_id, l.pos, l.ln FROM lines l
  WHERE NOT EXISTS (SELECT 1 FROM freq f WHERE f.lh = l.lh)
),
re AS (
  SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text_clean,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id,
       coalesce(re.text_clean, '') AS text_clean,
       CAST(len(string_split(c.content, chr(10))) AS BIGINT) AS n_lines,
       CAST(len(string_split(c.content, chr(10))) AS BIGINT)
         - coalesce(re.n_kept, 0) AS n_lines_removed
FROM code c LEFT JOIN re USING (doc_id)
""",
)
def code_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-line boilerplate removal over the code corpus: license
    headers / duplicated filler lines occurring in >= 5 distinct files
    are stripped, order preserved — the CCNet line-dedup trick, with
    the frequent set joined key-partitioned (never collected)."""
    return textstats.strip_frequent_lines(
        _code_docs(spark, sf_dir), min_df=5, text_col="content"
    )


# -- 29. multimodal feature extraction (mapInPandas plumbing) --------------------

from .operators import multimodal  # noqa: E402


@_q(
    "media_features",
    """
WITH m AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         substr(text, 1, 40) AS payload
  FROM documents
)
SELECT media_id, kind, i,
       CAST(CAST(round(
         CAST(('0x' || substr(sha256(payload), 2 * i + 1, 2)) AS INTEGER)
         / 255.0, 6) AS REAL) AS DOUBLE) AS feature
FROM (SELECT media_id, kind, payload, unnest(range(0, 16)) AS i FROM m)
""",
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing end-to-end through the REAL
    mapInPandas stage (per-worker decoder singleton, Arrow batches):
    the deterministic stand-in decoder (sha256-derived features) is
    SQL-expressible, so the schema/batch/UDF path itself is
    hash-verified — the library decode swap-in changes only the
    singleton, not the verified plumbing."""
    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.substring("text", 1, 40).alias("payload"),
    )
    out = multimodal.extract_media_features(media)
    return out.select(
        "media_id",
        "kind",
        F.posexplode("features").alias("i", "feature"),
    ).select(
        "media_id",
        "kind",
        # posexplode's pos is int32; the oracle's range() yields BIGINT —
        # align so the driver's typed value hash sees identical dtypes
        F.col("i").cast("long").alias("i"),
        F.col("feature").cast("double").alias("feature"),
    )


# -- 30. as-of (point-in-time) join / retention / stratified split / top-ngrams --


@_q(
    "events_asof_join",
    """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts,
         max(CAST(round(value * 100) AS BIGINT)) AS purchase_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS click_us,
       coalesce(r.purchase_cents, CAST(-1 AS BIGINT)) AS last_purchase_cents
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — each click picks up the user's most recent
    purchase value at or before it (the feature-store/market-data
    operator Spark lacks natively). Spark side: single-shuffle union +
    ordered-window carry-forward (events.asof_join); oracle: DuckDB's
    native ASOF LEFT JOIN — two entirely independent as-of
    implementations must agree bit-for-bit."""
    ev = _events(spark, sf_dir)
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max(F.round(F.col("value") * 100).cast("long")).alias(
                "purchase_cents"
            )
        )
    )
    out = events.asof_join(left, right, ["user_id"], "ts")
    from .operators.events import _epoch_us

    return out.select(
        "event_id",
        "user_id",
        _epoch_us("ts").alias("click_us"),
        F.coalesce(F.col("purchase_cents"), F.lit(-1).cast("long")).alias(
            "last_purchase_cents"
        ),
    )


@_q(
    "events_asof_join_inner",
    """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts,
         max(CASE WHEN value >= 1.0
                  THEN CAST(round(value * 100) AS BIGINT) END) AS purchase_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS click_us, r.purchase_cents
FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def events_asof_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner as-of with NULLABLE right values (round-4 ADVICE fix made
    this expressible): small purchases carry a NULL cents value, so a
    click whose MOST RECENT purchase is small must surface that
    match's NULL — the pre-fix per-column carry would have grabbed a
    stale older non-NULL value, and this oracle (DuckDB native ASOF
    inner join) would hash-reject it."""
    ev = _events(spark, sf_dir)
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max(
                F.when(
                    F.col("value") >= 1.0,
                    F.round(F.col("value") * 100).cast("long"),
                )
            ).alias("purchase_cents")
        )
    )
    out = events.asof_join(left, right, ["user_id"], "ts", how="inner")
    from .operators.events import _epoch_us

    return out.select(
        "event_id",
        "user_id",
        _epoch_us("ts").alias("click_us"),
        "purchase_cents",
    )


@_q(
    "events_retention",
    """
WITH ed AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events
),
f AS (SELECT user_id, min(d) AS cohort_day FROM ed GROUP BY user_id)
SELECT cohort_day, d - cohort_day AS day_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM ed JOIN f USING (user_id)
GROUP BY cohort_day, d - cohort_day
""",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (cohort = epoch-day of first event;
    cells = distinct users active at each day offset) — all-integer
    day arithmetic, two key-partitioned aggregations."""
    return events.retention_cohorts(_events(spark, sf_dir))


_STRAT_FRACS = (("train", 0.8), ("val", 0.1), ("test", 0.1))


def _SQL_STRAT() -> str:
    """CASE cuts generated from the SAME Python float accumulation the
    Spark operator uses (0.8 + 0.1 = 0.9000000000000001 — writing a
    clean 0.9 literal here could floor() differently at an exact
    integer boundary)."""
    cum = 0.0
    whens = []
    for name, frac in _STRAT_FRACS[:-1]:
        cum += frac
        whens.append(
            f"WHEN rn <= floor({cum!r}e0 * n) THEN '{name}'"
        )
    return "\n            ".join(whens)


@_q(
    "corpus_stratified_split",
    f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source,
       CASE {_SQL_STRAT()}
            ELSE '{_STRAT_FRACS[-1][0]}' END AS split
FROM ranked
""",
)
def corpus_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-proportion 80/10/10 split per source stratum: salted-hash
    order + floor(cum·n) cuts, every stratum within 1 row of target
    (vs the Bernoulli corpus_split's √n fluctuation)."""
    return sampling.stratified_split(
        _docs(spark, sf_dir), "source", dict(_STRAT_FRACS)
    )


@_q(
    "text_top_ngrams",
    f"""
WITH g AS (
  SELECT source,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS gram
  FROM (SELECT source, {TOK} AS ws FROM documents)
  WHERE len(ws) >= 2
),
c AS (
  SELECT source, gram, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM g GROUP BY source, gram
)
SELECT source, gram, n_occurrences, CAST(rank AS BIGINT) AS rank FROM (
  SELECT source, gram, n_occurrences,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_occurrences DESC, gram ASC) AS rank
  FROM c)
WHERE rank <= 5
""",
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per source (boilerplate/template/contamination
    inspection report), deterministic tie-break (count desc, gram asc);
    the window runs over the (source, gram) counts, never the corpus."""
    return textstats.top_ngrams_per_group(
        _docs(spark, sf_dir), "source", n=2, k=5
    )


# -- 31. Gopher quality rules ------------------------------------------------------


@_q(
    "text_gopher_rules",
    f"""
WITH base AS (
  SELECT doc_id, text, {TOK} AS ws,
         string_split(text, chr(10)) AS ls
  FROM documents
),
m AS (
  SELECT doc_id,
         len(ws) AS n_words,
         CASE WHEN len(ws) > 0
              THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
                   / len(ws)
              ELSE 0e0 END AS mean_word_len,
         CASE WHEN len(ws) > 0
              THEN (CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
                    + floor((len(text) - len(replace(text, '...', ''))) / 3))
                   / len(ws)
              ELSE 0e0 END AS symbol_ratio,
         CASE WHEN len(ls) > 0
              THEN CAST(len(list_filter(ls, l ->
                     starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
                     OR starts_with(ltrim(l), '•'))) AS DOUBLE) / len(ls)
              ELSE 0e0 END AS bullet_frac,
         CASE WHEN len(ls) > 0
              THEN CAST(len(list_filter(ls, l ->
                     ends_with(rtrim(l), '...'))) AS DOUBLE) / len(ls)
              ELSE 0e0 END AS ellipsis_frac,
         CASE WHEN len(ws) > 0
              THEN CAST(len(list_filter(ws, w ->
                     regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(ws)
              ELSE 0e0 END AS alpha_frac,
         len(list_intersect(list_distinct(ws),
             ['the','be','to','of','and','that','have','with'])) AS n_stop_hits
  FROM base
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       mean_word_len, symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac,
       CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
       (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
       (mean_word_len >= 3 AND mean_word_len <= 10) AS pass_mean_word_len,
       (symbol_ratio <= 0.1e0) AS pass_symbol_ratio,
       (bullet_frac <= 0.9e0) AS pass_bullet_lines,
       (ellipsis_frac <= 0.3e0) AS pass_ellipsis_lines,
       (alpha_frac >= 0.8e0) AS pass_alpha_words,
       (n_stop_hits >= 2) AS pass_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (mean_word_len >= 3 AND mean_word_len <= 10)
        AND symbol_ratio <= 0.1e0 AND bullet_frac <= 0.9e0
        AND ellipsis_frac <= 0.3e0 AND alpha_frac >= 0.8e0
        AND n_stop_hits >= 2) AS keep
FROM m
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality heuristics as a shuffle-free
    projection with per-rule audit flags — every metric, flag and the
    composed keep decision hash-verified against the SQL twin."""
    return textstats.gopher_rules(_docs(spark, sf_dir))
