"""KG-pipeline operator keys exercised over DRIVER tables (so the DuckDB
oracle can check the real operators — including the UDF stages — end to end).

The trick: `documents` text is a closed-vocabulary word stream, so gazetteer
mention detection, sentence predicates, single-sentence BFS evidence and the
decompose step all have exact ANSI-SQL twins. The deep multi-sentence BFS
semantics are pinned by the fixture goldens in tests/test_pipeline_golden.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..operators.connected_components import connected_components
from ..operators.er import canonical_map
from ..operators.graph import doc_graph_subrels
from ..operators.mentions import analyze_sentences, detect_mentions
from ..operators.textprep import resolve_text
from ..operators.triples import subrels_from_evidence
from ..functions.hashing import lsh_band_hashes_col, minhash_signature_col
from ..functions.textnorm import shingles_col
from ..sources.tables import pages_from_documents
from .oracles import ORACLES
from .common import _t
from .queries import query

GAZ_WORDS = [
    ("spark", "E_PIV", "PIV"),
    ("join", "E_JOIN", "ARGA"),
    ("filter", "E_FILT", "ARGA"),
    ("merge", "E_MERG", "ARGB"),
    ("hash", "E_HASH", "ARGB"),
]
_GAZ_A = "('join','filter')"
_GAZ_B = "('merge','hash')"
_GAZ_ALL = "('spark','join','filter','merge','hash')"
PRED_WORDS = ["group", "order"]

_DUCK_MENTIONS = f"""
  toks AS (
    SELECT CAST(doc_id AS VARCHAR) AS url, t.u AS ord,
           regexp_extract_all(lower(text), '[a-z0-9]+')[t.u] AS tok
    FROM documents,
         unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS t(u)
  ),
  mentions AS (
    SELECT url, ord, tok,
           CAST(row_number() OVER (PARTITION BY url ORDER BY ord) - 1 AS BIGINT)
             AS mention_id
    FROM toks WHERE tok IN {_GAZ_ALL}
  )
"""


def _docs(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("string").alias("url"), "text")
    )


def _gaz_df(spark):
    return spark.createDataFrame(GAZ_WORDS, "surface_norm string, ent_id string, ent_type string")


@query("scan_pages")
def scan_pages(spark, sf_dir):
    """Pages-shaped scan (binding input shape) derived from documents."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    p = pages_from_documents(spark, sf_dir)
    return p.select(
        "url", "warc_ts", "lang", F.length("html").cast("bigint").alias("html_bytes")
    )

ORACLES["scan_pages"] = """
SELECT 'https://' || source || '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
       TIMESTAMP '2024-01-01 00:00:00' + to_seconds(CAST(doc_id AS BIGINT)) AS warc_ts,
       lang,
       CAST(octet_length(encode('<html><head><title>doc</title></head><body><p>'
            || coalesce(text, '') || '</p></body></html>')) AS BIGINT) AS html_bytes
FROM documents
"""


@query("extract_text")
def extract_text_q(spark, sf_dir):
    """The frozen extractor over the pages scan — oracle-checkable because
    fixture text is whitespace-clean ASCII (title line + body line)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    p = pages_from_documents(spark, sf_dir)
    return resolve_text(p).select("url", "text")

ORACLES["extract_text"] = """
SELECT 'https://' || source || '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN text IS NULL OR text = '' THEN 'doc'
            ELSE 'doc' || chr(10) || text END AS text
FROM documents
"""


@query("detect_mentions")
def detect_mentions_q(spark, sf_dir):
    m = detect_mentions(_docs(spark, sf_dir), _gaz_df(spark))
    return m.select(
        "url", F.col("mention_id").cast("bigint").alias("mention_id"),
        "surface_norm", "ent_type",
    )

ORACLES["detect_mentions"] = f"""
WITH {_DUCK_MENTIONS}
SELECT url, mention_id, tok AS surface_norm,
       CASE WHEN tok = 'spark' THEN 'PIV'
            WHEN tok IN {_GAZ_A} THEN 'ARGA'
            ELSE 'ARGB' END AS ent_type
FROM mentions
"""


@query("doc_graph_bfs")
def doc_graph_bfs_q(spark, sf_dir):
    """Tagged mapInPandas graph+BFS (graph.doc_graph_subrels). Driver docs
    are single-sentence, so with the default-enriched graph (co-mention
    edges) every (PIV, ARG) pair is a DIRECT length-1 path —
    SQL-expressible."""
    docs = _docs(spark, sf_dir)
    m = detect_mentions(docs, _gaz_df(spark))
    s = analyze_sentences(docs, PRED_WORDS)
    ev = doc_graph_subrels(m, s, "PIV", [("ARGA", "a"), ("ARGB", "b")])
    return ev.select(
        "url",
        F.col("pivot_mid").cast("bigint").alias("pivot_mid"),
        F.col("other_mid").cast("bigint").alias("other_mid"),
        "slot",
        F.col("path_len").cast("bigint").alias("path_len"),
    )

ORACLES["doc_graph_bfs"] = f"""
WITH {_DUCK_MENTIONS}
SELECT p.url, p.mention_id AS pivot_mid, o.mention_id AS other_mid,
       CASE WHEN o.tok IN {_GAZ_A} THEN 'a' ELSE 'b' END AS slot,
       CAST(1 AS BIGINT) AS path_len
FROM mentions p JOIN mentions o
  ON p.url = o.url AND p.tok = 'spark' AND o.tok <> 'spark'
"""


@query("decompose_nary")
def decompose_nary_q(spark, sf_dir):
    """Binary sub-relation construction (the n-ary decomposition): the
    production filter+project of the enriched evidence
    (triples.subrels_from_evidence over graph.doc_graph_subrels)."""
    docs = _docs(spark, sf_dir)
    m = detect_mentions(docs, _gaz_df(spark))
    s = analyze_sentences(docs, PRED_WORDS)
    sr = subrels_from_evidence(
        doc_graph_subrels(m, s, "PIV", [("ARGA", "a"), ("ARGB", "b")])
    )
    return sr.select(
        "url",
        F.col("pivot_mid").cast("bigint").alias("pivot_mid"),
        F.col("other_mid").cast("bigint").alias("other_mid"),
        "slot", "pred", "subrel", "other_norm",
    )

# nearest-predicate attachment (round 4): the pivot's pred is the vocab
# token at minimum token distance from the pivot (ties -> earliest) —
# single-token mentions in a single-sentence doc make the distance
# abs(pred_ord - pivot_ord), the 1-based twin of kernels.nearest_pred
ORACLES["decompose_nary"] = f"""
WITH {_DUCK_MENTIONS},
predtoks AS (
  SELECT url, ord, tok AS pred FROM toks WHERE tok IN ('group', 'order')
),
attach AS (
  SELECT p.url, p.mention_id, pt.pred,
         row_number() OVER (
           PARTITION BY p.url, p.mention_id
           ORDER BY abs(pt.ord - p.ord), pt.ord
         ) AS rn
  FROM mentions p JOIN predtoks pt ON pt.url = p.url
  WHERE p.tok = 'spark'
)
SELECT p.url, p.mention_id AS pivot_mid, o.mention_id AS other_mid,
       CASE WHEN o.tok IN {_GAZ_A} THEN 'a' ELSE 'b' END AS slot,
       a.pred,
       a.pred || '#' || CASE WHEN o.tok IN {_GAZ_A} THEN 'a' ELSE 'b' END AS subrel,
       o.tok AS other_norm
FROM mentions p
JOIN mentions o ON p.url = o.url AND p.tok = 'spark' AND o.tok <> 'spark'
JOIN attach a ON a.url = p.url AND a.mention_id = p.mention_id AND a.rn = 1
"""


@query("rejoin_triples")
def rejoin_triples_q(spark, sf_dir):
    """The binary->n-ary rejoin shape on driver tables: sub-relations sharing
    (doc, pivot) equi-joined back together."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_partkey", "l_linenumber")
    a = (
        li.filter(F.col("l_linenumber") % 2 == 1)
        .select(
            F.col("l_orderkey").alias("doc_id"),
            F.col("l_suppkey").alias("pivot_id"),
            F.col("l_partkey").alias("other_a"),
        )
        .distinct()
    )
    b = (
        li.filter(F.col("l_linenumber") % 2 == 0)
        .select(
            F.col("l_orderkey").alias("doc_id"),
            F.col("l_suppkey").alias("pivot_id"),
            F.col("l_partkey").alias("other_b"),
        )
        .distinct()
    )
    return (
        a.join(b, ["doc_id", "pivot_id"])
        .groupBy(
            F.concat(F.lit("S"), F.col("pivot_id")).alias("subj"),
            F.lit("links").alias("pred"),
            F.concat(F.lit("P"), F.col("other_a")).alias("obj"),
        )
        .agg(F.countDistinct("doc_id").alias("support"))
    )

ORACLES["rejoin_triples"] = """
WITH a AS (
  SELECT DISTINCT l_orderkey AS doc_id, l_suppkey AS pivot_id, l_partkey AS other_a
  FROM lineitem WHERE l_linenumber % 2 = 1
), b AS (
  SELECT DISTINCT l_orderkey AS doc_id, l_suppkey AS pivot_id, l_partkey AS other_b
  FROM lineitem WHERE l_linenumber % 2 = 0
)
SELECT 'S' || CAST(a.pivot_id AS VARCHAR) AS subj, 'links' AS pred,
       'P' || CAST(a.other_a AS VARCHAR) AS obj,
       count(DISTINCT a.doc_id) AS support
FROM a JOIN b ON a.doc_id = b.doc_id AND a.pivot_id = b.pivot_id
GROUP BY 1, 2, 3
"""


@query("rejoin_nary4")
def rejoin_nary4(spark, sf_dir):
    """The GENERALIZED n-ary rejoin (arity 4 = pivot + slots a/b/c) through
    the REAL operator (operators/triples.rejoin_nary) on driver tables:
    subrels derived from lineitem (slot = l_linenumber % 3), three slot
    frames chain-equi-joined on (url, pivot_mid, pred), one triple emitted
    per slot, support = distinct source urls."""
    from ..operators.triples import rejoin_nary

    li = _t(spark, sf_dir, "lineitem")
    subrels = li.select(
        F.col("l_orderkey").cast("string").alias("url"),
        F.col("l_suppkey").cast("int").alias("pivot_mid"),
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("pivot_norm"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("other_norm"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("l_linenumber") % 3 + 1).cast("int"),
        ).alias("slot"),
        # data-derived (non-foldable) constant: a literal pred would be
        # constant-folded out of the rule-join equi-condition and demote
        # the broadcast HASH join to a nested-loop join in the plan
        F.substring(F.concat(F.lit("links"), F.col("l_orderkey")), 1, 5).alias("pred"),
    )
    rules = spark.createDataFrame(
        [("a", "links", "links.a"), ("b", "links", "links.b"),
         ("c", "links", "links.c")],
        "slot string, pred string, pred_out string",
    )
    return rejoin_nary(subrels, rules, ["a", "b", "c"], canon_map=None)

ORACLES["rejoin_nary4"] = """
WITH s AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS url, l_suppkey AS pivot_mid,
         'S' || CAST(l_suppkey AS VARCHAR) AS pivot_norm,
         'P' || CAST(l_partkey AS VARCHAR) AS other_norm,
         CASE l_linenumber % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END AS slot
  FROM lineitem
),
a AS (SELECT url, pivot_mid, pivot_norm, other_norm FROM s WHERE slot = 'a'),
b AS (SELECT url, pivot_mid, other_norm FROM s WHERE slot = 'b'),
c AS (SELECT url, pivot_mid, other_norm FROM s WHERE slot = 'c'),
inst AS (
  SELECT a.url, a.pivot_norm,
         a.other_norm AS na, b.other_norm AS nb, c.other_norm AS nc
  FROM a
  JOIN b ON a.url = b.url AND a.pivot_mid = b.pivot_mid
  JOIN c ON a.url = c.url AND a.pivot_mid = c.pivot_mid
),
trip AS (
  SELECT url, pivot_norm AS subj, 'links.a' AS pred, na AS obj FROM inst
  UNION ALL
  SELECT url, pivot_norm, 'links.b', nb FROM inst
  UNION ALL
  SELECT url, pivot_norm, 'links.c', nc FROM inst
)
SELECT subj, pred, obj, count(DISTINCT url) AS support
FROM trip GROUP BY subj, pred, obj
"""


@query("kg_pattern")
def kg_pattern(spark, sf_dir):
    """Downstream KG-query surface (new r6): a 2-hop basic graph pattern
    (?s supplies ?p)(?p ships_in ?o) matched by operators/kg_query.
    match_pattern over the engine's triple shape — heterogeneous edges
    supplier -supplies-> part -ships_in-> order derived from lineitem —
    then bindings aggregated to per-supplier reach (distinct orders
    reachable in 2 hops) and distinct-path count.

    r7 physical restructure, result-identical (oracle re-proved at
    sf0.001/0.01/0.1):
    - each edge set dedups on its INTEGER key pair BEFORE the string
      concat — distinct(concat(keys)) == concat(distinct(keys)) because
      the 'S'/'P'/'O'-prefixed concat is injective per branch, so the
      exchange carries 16 bytes/row instead of ~40-byte strings and the
      hash aggregate compares longs; the branch union is distinct by
      construction (the two preds differ), exactly the rows the old
      union+distinct produced.
    - match_pattern runs with distinct=False: both hop frames are
      duplicate-free (distinct edge sets with a constant pred), and an
      inner equi-join of duplicate-free sides yields duplicate-free
      bindings, so the BGP set-semantics dedup was a no-op that
      exchanged all ~18M binding rows once more (measured ~1s of the
      entry at sf0.1). n_paths is unchanged for the same reason — there
      were no duplicate bindings to collapse.
    The exchanges left are the two per-branch integer dedups and the
    two-phase countDistinct agg; the hop join itself broadcasts at this
    scale (see BENCH/PLANS.md § kg_pattern)."""
    from ..operators.kg_query import match_pattern

    li = _t(spark, sf_dir, "lineitem")
    e1 = li.select("l_suppkey", "l_partkey").distinct().select(
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("subj"),
        F.lit("supplies").alias("pred"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("obj"),
    )
    e2 = li.select("l_partkey", "l_orderkey").distinct().select(
        F.concat(F.lit("P"), F.col("l_partkey")).alias("subj"),
        F.lit("ships_in").alias("pred"),
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("obj"),
    )
    triples = e1.unionByName(e2)
    bind = match_pattern(
        triples,
        [("?s", "supplies", "?p"), ("?p", "ships_in", "?o")],
        distinct=False,
    )
    return bind.groupBy(F.col("s").alias("supplier")).agg(
        F.countDistinct("o").alias("reach"),
        F.count(F.lit(1)).alias("n_paths"),
    )

ORACLES["kg_pattern"] = """
WITH e1 AS (
  SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS s,
                  'P' || CAST(l_partkey AS VARCHAR) AS p
  FROM lineitem
), e2 AS (
  SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS p,
                  'O' || CAST(l_orderkey AS VARCHAR) AS o
  FROM lineitem
)
SELECT e1.s AS supplier, count(DISTINCT e2.o) AS reach,
       count(*) AS n_paths
FROM e1 JOIN e2 ON e1.p = e2.p
GROUP BY e1.s
"""


@query("minhash_sig")
def minhash_sig(spark, sf_dir):
    """MinHash signatures over surface shingles (xxhash64 family ->
    rows-only; determinism + banding invariants in tests/test_dedup_similarity.py)."""
    surfaces = _t(spark, sf_dir, "documents").select(
        F.lower(F.col("source")).alias("surface_norm")
    ).distinct()
    return surfaces.select(
        "surface_norm",
        minhash_signature_col(shingles_col(F.col("surface_norm"))).alias("sig"),
    )


@query("lsh_blocks")
def lsh_blocks(spark, sf_dir):
    """LSH banding of MinHash signatures (rows-only, same family)."""
    sigs = minhash_sig(spark, sf_dir)
    return sigs.select(
        "surface_norm", F.explode(lsh_band_hashes_col(F.col("sig"))).alias("bb")
    ).select("surface_norm", "bb.band", "bb.bucket")


@query("conn_comp")
def conn_comp(spark, sf_dir):
    """Connected components on a customer-nation bipartite graph via the
    DISTRIBUTED large-star/small-star contraction path (driver_threshold=0
    forces it — the size-adaptive default would solve this small input with
    driver union-find, and the correctness row should certify the
    distributed algorithm); DuckDB twin = recursive transitive closure +
    min. Both strategies produce identical labels (pytest-asserted)."""
    c = _t(spark, sf_dir, "customer")
    edges = c.select(
        (F.col("c_custkey") + 2000000).alias("src"),
        (F.col("c_nationkey").cast("bigint") + 1000000).alias("dst"),
    )
    return connected_components(edges, driver_threshold=0, algorithm="star")

ORACLES["conn_comp"] = """
WITH RECURSIVE bidir AS (
  SELECT c_custkey + 2000000 AS a, CAST(c_nationkey AS BIGINT) + 1000000 AS b FROM customer
  UNION
  SELECT CAST(c_nationkey AS BIGINT) + 1000000, c_custkey + 2000000 FROM customer
), reach(src, node) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM bidir) t
  UNION
  SELECT r.src, b.b FROM reach r JOIN bidir b ON r.node = b.a
)
SELECT src AS node, MIN(node) AS comp FROM reach GROUP BY src
"""


@query("canonicalize")
def canonicalize(spark, sf_dir):
    """Full ER (MinHash-LSH -> verify -> CC -> canonical label) on derived
    alias pairs: md5-based core strings with spaced variants sharing one
    compact form; canonical = min surface_norm in the component."""
    d = _t(spark, sf_dir, "documents")
    core = F.substring(F.md5(F.concat(F.col("source"), F.col("lang"))), 1, 8)
    spaced = F.concat(F.substring(core, 1, 4), F.lit(" "), F.substring(core, 5, 4))
    surfaces = (
        d.select(spaced.alias("surface_norm"))
        .union(d.select(core.alias("surface_norm")))
        .distinct()
    )
    return canonical_map(surfaces)

ORACLES["canonicalize"] = """
WITH cores AS (
  SELECT DISTINCT substr(md5(source || lang), 1, 8) AS core FROM documents
)
SELECT substr(core, 1, 4) || ' ' || substr(core, 5, 4) AS surface_norm,
       substr(core, 1, 4) || ' ' || substr(core, 5, 4) AS canonical
FROM cores
UNION ALL
SELECT core, substr(core, 1, 4) || ' ' || substr(core, 5, 4) FROM cores
"""
